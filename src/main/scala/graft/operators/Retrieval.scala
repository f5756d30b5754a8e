package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** BM25 term retrieval over a distributed inverted index — the lexical
  * complement of the embedding ANN family (sim1-sim9): training-data
  * pipelines rank documents against reference queries for quality
  * scoring, dedup triage, and retrieval-augmented evals, and at corpus
  * scale that is an inverted-index problem, not a scan problem.
  *
  * Index layout (BucketedJoin tables — the same index-never-moves
  * discipline as the minhash/LSH/IVF indexes):
  *  - `<table>`        postings `(term, doc_id, tf, dl)` BUCKETED by
  *    term — document length is DENORMALIZED into the posting row
  *    (+8 bytes) so scoring needs no per-doc join at all;
  *  - `<table>_terms`  `(term, df)` delta rows bucketed by term —
  *    document frequency is kept as APPENDABLE increments and summed
  *    per term at query time (a zero-exchange aggregate over the
  *    term-bucketed layout), so growing the corpus never rewrites the
  *    dictionary;
  *  - `<table>_stats`  `(n_docs, dl_sum)` delta rows — the corpus-level
  *    BM25 inputs, folded to (N, avgdl) with a one-row aggregate.
  *
  * Query shape: query terms (a tiny frame) shuffle TO the term-bucketed
  * postings/dictionary and join co-located; scoring emits 24-byte
  * `(qid, doc_id, partial)` rows; the per-(qid, doc) sum and top-k run
  * through the same O(k)-state native aggregate as the ANN rankers.
  * Nothing index-sided ever shuffles.
  *
  * Scores are INTEGER micro-units: each term's BM25 contribution is
  * rounded to 1e-6 and summed as a long (`score_micro`). Long addition
  * is associative, so the total is independent of Spark's partial-agg
  * order AND bit-identical to any other engine's sum of the same
  * rounded partials — which is what makes the result oracle-checkable
  * (a double sum would differ in the last ULP by summation order
  * alone). Tokenization is lowercased whitespace splitting
  * ([[TextOps.tokens]] semantics); empty documents index nothing and
  * do not count toward N or avgdl.
  *
  * BM25 (Robertson-Sparck Jones; the Lucene-variant idf, always
  * positive):
  *   idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))
  *   w(t,d) = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  *   score  = Σ_t idf·w   with k1 = 1.2, b = 0.75.
  * Query terms are DISTINCT (qtf = 1 — the standard short-query form).
  */
object Retrieval {

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Lowercased [[TextOps.tokens]] — ONE shared tokenizer definition, so
    * the oracle constraint on t1/a1 (whitespace splitting) and on
    * t16/t17 (this analyzer) can never drift apart silently.
    */
  private def toks(text: org.apache.spark.sql.Column) =
    TextOps.tokens(lower(text))

  /** Build the persisted index. One tokenization ([[termDocs]]); the
    * postings land bucketed by term so every later query joins
    * co-located. A build is a fresh index: any tombstone set left by a
    * PRIOR index under the same name is cleared AFTER the new tables
    * have landed — otherwise stale tombstones would silently delete ids
    * from the new corpus at query time. Clearing last (not first) means a build that FAILS
    * midway — a malformed corpus frame, a write error — cannot
    * un-delete documents on the still-standing old index: the old
    * tables and their tombstones survive an aborted build together.
    * (A failed build can leave partially rewritten index tables, as any
    * non-transactional multi-table overwrite can — re-run the build;
    * the deletion state is never the casualty.)
    *
    * `positions = true` additionally writes the `<table>_pos` positional
    * table (term-bucketed like the postings), enabling
    * [[bm25PhraseQuery]]; [[bm25Append]] and [[bm25FoldTombstones]]
    * maintain it automatically once present.
    *
    * `blockMax = true` builds the BLOCK-MAX layout (Ding & Suel,
    * "Faster top-k document retrieval using block-max indexes", WSDM
    * 2011 — the doc-aligned block form, adapted set-at-a-time): doc ids
    * must be integral; every posting gains `blk = doc_id div
    * blockWidth`, the files sort `(term, blk, doc_id)` within buckets,
    * and two side tables land —
    *  - `<table>_blkmax` `(term, blk, max_tf, min_dl)` delta rows
    *    (term-bucketed, append-folded like `_terms`): per-block score
    *    UPPER BOUNDS, because BM25's per-doc weight is monotone ↑ in tf
    *    and ↓ in dl, so w(max_tf, min_dl) ≥ w(tf, dl) for every posting
    *    in the block under ANY (N, avgdl, df) constants — the bounds
    *    survive appends (new deltas) and tombstones (deletes only
    *    shrink true scores) without rewrite;
    *  - `<table>_blkmeta` one `(block_w)` row — the layout marker and
    *    the query-side doc→blk derivation.
    * The layout is COST-ONLY: every query entry point returns
    * bit-identical results on either layout. What it buys
    * ([[bm25QueryMaxScore]] pass 2): the verified candidate set pushes
    * into the head terms' postings SCAN as per-value `doc_id IN` (or
    * `blk IN` past the per-value cap) — page-skippable against the
    * sorted files — instead of only gating post-scan via semi-join, and
    * `_blkmax` refines candidates per block before anything scans.
    */
  def bm25Build(docs: DataFrame, idCol: String, textCol: String,
                table: String, buckets: Int = 8,
                positions: Boolean = false,
                blockMax: Boolean = false,
                blockWidth: Long = 4096L): Unit = {
    val spark = docs.sparkSession
    GraftFunctions.ensureRegistered(spark)
    require(blockWidth >= 1, s"blockWidth must be >= 1, got $blockWidth")
    val delta = termDocs(docs, idCol, textCol, positions)
    val postings = delta.select("term", "doc_id", "tf", "dl")
    if (blockMax) {
      val idType = postings.schema("doc_id").dataType
      require(idType == org.apache.spark.sql.types.LongType ||
          idType == org.apache.spark.sql.types.IntegerType,
        s"bm25Build(blockMax = true) needs integral doc ids, got $idType")
      // the marker drops FIRST and rewrites LAST: any crash inside the
      // rebuild leaves an index with NO layout marker (queries serve
      // exactly, push disengaged) — never a marker whose block width
      // disagrees with the stored blk values (a wrong-width pushed
      // filter would skip postings it must not)
      if (tableExists(spark, s"${table}_blkmeta"))
        BucketedJoin.dropWithLocation(spark, s"${table}_blkmeta")
      val withBlk = postings.withColumn("blk",
        expr(s"CAST(doc_id AS BIGINT) div $blockWidth"))
      BucketedJoin.writeBucketed(withBlk, table, "term", buckets,
        sortCols = Seq("blk", "doc_id"), options = blockMaxWriteOptions)
      BucketedJoin.writeBucketed(blkBounds(withBlk),
        s"${table}_blkmax", "term", buckets)
      import spark.implicits._
      BucketedJoin.writeBucketed(Seq(blockWidth).toDF("block_w"),
        s"${table}_blkmeta", "block_w", 1)
    } else {
      // a rebuild WITHOUT blockMax drops the prior layout's side tables
      // FIRST: a crash between the drop and the postings overwrite
      // leaves a blk-sorted table without its marker (queries simply
      // don't engage the push — exact), never a marker claiming a
      // layout the new files don't have
      for (s <- Seq("_blkmeta", "_blkmax"); t = s"$table$s";
           if tableExists(spark, t))
        BucketedJoin.dropWithLocation(spark, t)
      BucketedJoin.writeBucketed(postings, table, "term", buckets)
    }
    BucketedJoin.writeBucketed(dictOf(postings), s"${table}_terms", "term",
      buckets)
    BucketedJoin.writeBucketed(statsOf(postings), s"${table}_stats", "n_docs",
      1)
    if (positions)
      // round 21 (guide §6 "partitioning and sort order on write"):
      // positional lists sort (term, doc_id) within buckets at the
      // block-max fine-page geometry, so a candidate doc push from
      // [[posGatedProbe]]'s fused candidate plane can PAGE-SKIP the
      // head terms' position lists the way the t49 layout skips
      // postings (pages inside a long term run carry tight doc_id
      // min/max ranges). Layout is COST-ONLY: results are
      // bit-identical on either layout; appends preserve the sort spec
      // from the catalog ([[BucketedJoin.appendBucketed]]).
      BucketedJoin.writeBucketed(delta.select("term", "doc_id", "positions"),
        s"${table}_pos", "term", buckets,
        sortCols = Seq("doc_id"), options = blockMaxWriteOptions)
    else if (tableExists(spark, s"${table}_pos"))
      // a rebuild WITHOUT positions must not leave the prior index's
      // positional table answering for the new corpus
      BucketedJoin.dropWithLocation(spark, s"${table}_pos")
    Tombstones.clear(spark, table)
  }

  private def tableExists(spark: SparkSession, t: String): Boolean =
    spark.sessionState.catalog.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier(t))

  /** Parquet page geometry for the block-max postings files: the PAGE
    * is the unit parquet's column-index can skip, so fine pages ARE
    * the skippable blocks. At the default ~20k-row pages a 1e7-doc
    * head term is only ~15 pages per bucket — a few-hundred-doc
    * candidate push covers most of them and skips nothing; at 2048
    * rows per page the same term is ~150 pages per bucket and a sparse
    * candidate set skips the overwhelming majority. Page-header and
    * column-index overhead is a few bytes per page — noise against a
    * serving-optimized layout. The options are stored with the table,
    * so appends, folds, compactions and reshards read them back from
    * the catalog ([[BucketedJoin.appendBucketed]],
    * [[BucketedJoin.rewriteBucketed]], [[Sharding]]) and keep the
    * geometry.
    */
  private val blockMaxWriteOptions =
    Map("parquet.page.row.count.limit" -> "2048",
      "parquet.writer.version" -> "v2")

  /** The block-max layout marker: the block width when `<table>_blkmeta`
    * exists (one-row control read), None for the plain layout. */
  private[operators] def blockMeta(spark: SparkSession,
                                   table: String): Option[Long] =
    if (!tableExists(spark, s"${table}_blkmeta")) None
    else Some(spark.table(s"${table}_blkmeta").head().getLong(0))

  /** [[blockMeta]] for a shard family, batched: ONE job reads every
    * present `_blkmeta` row (the one-job control-read discipline of
    * [[controlRead]] — S separate head() reads would pay S job
    * launches per query batch). Zero jobs when no shard has the
    * layout. */
  private def blockMetas(spark: SparkSession,
                         tables: Seq[String]): Seq[Option[Long]] = {
    val have = tables.map(t => tableExists(spark, s"${t}_blkmeta"))
    if (!have.exists(identity)) return tables.map(_ => None)
    val rows = tables.zipWithIndex.collect { case (t, i) if have(i) =>
      spark.table(s"${t}_blkmeta")
        .select(lit(i).as("i"), col("block_w")) }
      .reduce(_.unionByName(_)).collect()
    val m = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    tables.indices.map(m.get(_))
  }

  /** Driver-side doc→block derivation — MUST match the build-side
    * `doc_id div blockWidth` (Spark's integral `div` truncates toward
    * zero, as Scala's `/` does). */
  private def blkOf(docId: Any, w: Long): Long = docId match {
    case l: java.lang.Long => l.longValue() / w
    case i: java.lang.Integer => i.longValue() / w
    case other => sys.error(s"blockMax index with non-integral doc id " +
      s"$other — the build requires integral ids")
  }

  /** Materialize a bounded one-column id plan as (local frame, values),
    * collecting PRIMITIVES for the common id types instead of generic
    * Row objects (a 4M-candidate collect at the maxCandBroadcast dial
    * is a 32 MB long array, not hundreds of MB of boxed Rows). */
  private def materializeIds(spark: SparkSession,
                             plan: DataFrame): (DataFrame, Seq[Any]) = {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val f = plan.schema.head
    val vals: Seq[Any] = f.dataType match {
      case LongType => plan.as[Long].collect().toIndexedSeq
      case IntegerType => plan.as[Int].collect().toIndexedSeq
      case StringType => plan.as[String].collect().toIndexedSeq
      case _ => plan.collect().toIndexedSeq.map(_.get(0))
    }
    (idFrame(spark, vals, f), vals)
  }

  /** A local one-column frame from already-collected id values. */
  private def idFrame(spark: SparkSession, vals: Seq[Any],
                      f: org.apache.spark.sql.types.StructField): DataFrame = {
    val rows = vals.map(v => org.apache.spark.sql.Row(v))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(f)))
  }

  /** Absorb a batch of NEW documents at O(batch) cost: postings and
    * dictionary deltas re-bucket into the standing layout
    * ([[BucketedJoin.appendBucketed]]), the stats delta appends one
    * row. Nothing existing is rewritten — df and (N, avgdl) fold at
    * query time. Id contract: append-only, doc ids immutable
    * (re-submitting an indexed id double-counts it, exactly the
    * [[Similarity.lshIndexAppend]] contract — run the dedup admission
    * check first in refresh flows).
    *
    * The batch tokenizes ONCE ([[termDocs]]: one per-(term, doc) delta
    * with tf, dl and, when `<table>_pos` exists, positions), and that
    * delta is persisted and computed once; every table's rows are
    * projections of it. The writes:
    *  1. block-max indexes only: the `_blkmax` bounds delta lands
    *     FIRST, alone — a crash after it leaves bounds covering
    *     postings that never landed (slack, never a wrong prune); the
    *     reverse order could leave postings in blocks the refinement
    *     believes empty;
    *  2. ONE write wave ([[fanOut]]): the postings, `_terms`, `_stats`
    *     and `_pos` deltas append concurrently. A crash in the wave can
    *     leave ANY subset of the four landed.
    *
    * `repair = true` completes a CRASHED absorb of this same batch
    * (recovery path only, the refresh-loop replay contract): whatever
    * subset landed, postings and positions append only the
    * (term, doc_id) rows not already landed (one wave), and the
    * derived dictionary/stats tables are then REBUILT from the
    * postings ([[rebuildDerived]]) — deltas are not row-level
    * repairable (the same term legitimately carries one delta per
    * epoch), so recomputing the derived state from the one
    * authoritative table is the only exact completion; `_blkmax` is
    * recomputed the same way before the wave. O(index), paid only on
    * the crash-recovery epoch.
    */
  def bm25Append(spark: SparkSession, table: String, docs: DataFrame,
                 idCol: String, textCol: String,
                 repair: Boolean = false): Unit =
    bm25AppendImpl(spark, table, docs, idCol, textCol, repair, _ => true)

  /** [[bm25Append]] with a crash seam: the wave lands only the tables
    * whose suffix (`""` postings, `_terms`, `_stats`, `_pos`) `lands`
    * accepts — the state a crash inside the wave can leave. Production
    * calls accept every table. */
  private[graft] def bm25AppendImpl(spark: SparkSession, table: String,
                                    docs: DataFrame, idCol: String,
                                    textCol: String, repair: Boolean,
                                    lands: String => Boolean): Unit = {
    val positional = tableExists(spark, s"${table}_pos")
    // computed once, by the first write that reads it: concurrent
    // readers of a persisted partition wait for its one computation
    val delta = termDocs(docs, idCol, textCol, positional).persist()
    try {
      val blkW = blockMeta(spark, table)
      val postings = blkW.foldLeft(delta.select("term", "doc_id", "tf", "dl")) {
        (p, w) => p.withColumn("blk", expr(s"CAST(doc_id AS BIGINT) div $w"))
      }
      def landed(t: String) =
        spark.table(t).select("term", "doc_id")
      val repairing = repair && tableExists(spark, table)
      val rows =
        if (repairing) {
          val missing = postings.join(landed(table), Seq("term", "doc_id"),
            "left_anti")
          // bounds are deltas too: recompute them from the one
          // authoritative table plus what is about to land
          if (blkW.isDefined)
            BucketedJoin.rewriteBucketed(spark, s"${table}_blkmax", "term") {
              _ => blkBounds(spark.table(table).unionByName(missing))
            }
          Seq(("", missing, "term"))
        } else {
          if (blkW.isDefined)
            BucketedJoin.appendBucketed(blkBounds(postings),
              s"${table}_blkmax", "term")
          Seq(("", postings, "term"), ("_terms", dictOf(postings), "term"),
            ("_stats", statsOf(postings), "n_docs"))
        }
      // positions are per-(term, doc) facts, not deltas: a partial
      // landing repairs by anti-join like the postings
      val pos = if (!positional) Nil else {
        val pr = delta.select("term", "doc_id", "positions")
        Seq(("_pos", if (repair) pr.join(landed(s"${table}_pos"),
          Seq("term", "doc_id"), "left_anti") else pr, "term"))
      }
      val wave = (rows ++ pos).filter { case (s, _, _) => lands(s) }
      fanOut(spark, wave, wave.size) { case (s, df, key) =>
        BucketedJoin.appendBucketed(df, s"$table$s", key)
      }
      if (repairing) rebuildDerived(spark, table)
    } finally delta.unpersist()
  }

  /** One tokenization of a batch — the ONE definition of what an
    * index row holds, shared by [[bm25Build]] and [[bm25Append]]: a row
    * per (term, doc) with its `tf`, the doc's length `dl` (= Σ tf over
    * the doc; empty documents yield no rows) and, when `positions`, the
    * payload of the OPTIONAL `<table>_pos` table behind
    * [[bm25PhraseQuery]] — the doc's sorted 0-based offsets of the term
    * stored DELTA-ENCODED (first element absolute, rest gaps —
    * [[GraftFunctions.DeltaEncode]]). Raw offsets are near-unique ints
    * that defeat parquet dictionary encoding; their gaps are small and
    * repetitive, cutting the positional build's dominant write volume
    * (the measured +40% positions tax at 10⁷ docs, BASELINE.md
    * round-12 addendum). The phrase query decodes with
    * [[GraftFunctions.DeltaDecode]] — results are bit-identical to the
    * absolute-offset format. Positions live apart from the scoring
    * postings so bag-of-words indexes never pay for phrases they don't
    * serve; a projection without `positions` prunes its aggregate. The
    * docs shuffle once, on the doc id, so the per-(term, doc) aggregate
    * and the per-doc length window reuse that exchange. */
  private def termDocs(docs: DataFrame, idCol: String, textCol: String,
                       positions: Boolean): DataFrame = {
    val perDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val pos = GraftFunctions.deltaEnc(sort_array(collect_list(col("pos"))))
      .as("positions")
    docs.select(col(idCol).as("doc_id"), col(textCol))
      .repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(toks(col(textCol))))
      .groupBy(col("col").as("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), (if (positions) Seq(pos) else Nil): _*)
      .withColumn("dl", sum("tf").over(perDoc))
  }

  /** Rebuild the derived dictionary/stats tables from the postings —
    * df = posting rows per term, stats = distinct (doc, dl) — exactly
    * what the accumulated deltas sum to. Tombstoned rows (if any) stay
    * INCLUDED, matching the delta tables' convention: the query-time
    * correction subtracts `postings ∩ tombstones` from either form
    * consistently. One stage wave, then both swaps
    * ([[BucketedJoin.rewriteAll]]); crash-safe per table; idempotent.
    */
  private def rebuildDerived(spark: SparkSession, table: String): Unit =
    BucketedJoin.rewriteAll(spark, Seq(
      BucketedJoin.Rewrite(s"${table}_terms", "term",
        _ => dictOf(spark.table(table))),
      BucketedJoin.Rewrite(s"${table}_stats", "n_docs",
        _ => statsOf(spark.table(table)))))

  /** The derived rows of a postings frame: the dictionary (df = posting
    * rows per term), the one-row stats (n_docs, dl_sum over distinct
    * (doc, dl)) and the block-max bounds (max tf, min dl per
    * (term, blk)) — shared by the build, append, derived rebuild,
    * tombstone fold and reshard paths. */
  private def dictOf(postings: DataFrame): DataFrame =
    postings.groupBy("term").agg(count(lit(1)).as("df"))

  private def statsOf(postings: DataFrame): DataFrame =
    postings.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum("dl"), lit(0L)).as("dl_sum"))

  private def blkBounds(postings: DataFrame): DataFrame =
    postings.groupBy("term", "blk")
      .agg(max("tf").as("max_tf"), min("dl").as("min_dl"))

  /** Delete documents from the index: records their ids in the
    * [[Tombstones]] set — nothing else is written, which is the whole
    * crash story (see the query-side note on [[bm25Query]]: df/N/avgdl
    * corrections derive from `postings ∩ tombstones` at query time, so
    * any kill leaves queries consistent). Ids not in the index are
    * inert. Returns the number of newly tombstoned ids.
    */
  def bm25Delete(spark: SparkSession, table: String, ids: DataFrame,
                 idCol: String): Long =
    Tombstones.add(spark, table, ids, idCol)

  /** Physically fold the tombstones: the dictionary and stats tables
    * are RECOMPUTED from the retained postings (df = posting rows per
    * term; stats = distinct (doc, dl) — identical to what the deltas
    * sum to, minus the deleted docs), the postings and positions drop
    * the tombstoned rows, then the set clears. O(index) like any
    * compaction — run on the compaction cadence.
    *
    * Stage, then swap ([[BucketedJoin.rewriteAll]]):
    *  1. every interrupted swap rolls, so a table a killed fold left
    *     mid-swap is back before anything reads or skips it;
    *  2. ONE stage wave lands `_terms`, `_stats`, postings and `_pos`
    *     into their `_compacting` tables concurrently, every one
    *     computed from the UNFOLDED postings;
    *  3. under the `<table>_foldlock` marker the staged tables swap in,
    *     in that order, and the set clears.
    * Every table is a pure function of (postings, tombstones), so a
    * kill at any point re-runs cleanly: a kill in the wave leaves every
    * table untouched (the re-run drops the staged debris and restages);
    * a kill during the swaps leaves a prefix swapped in and at most one
    * table mid-swap (absent, its complete stage rolled forward by the
    * re-run), and the re-run recomputes the same rows — the derived
    * tables from postings that still hold the deleted docs or no longer
    * do, with the same result.
    *
    * Crash window: between the `_terms` swap and the postings swap,
    * the derived tables already EXCLUDE the deleted docs while
    * [[bm25Query]]'s query-time correction would subtract
    * `postings ∩ tombstones` a second time (double-subtracted
    * df/N/avgdl → wrong scores). The foldlock brackets the swaps;
    * [[bm25Query]] heals an abandoned lock by completing the idempotent
    * fold before serving — the [[BucketedJoin.recoverCompacted]]
    * heal-on-first-read discipline, lifted to the multi-table fold.
    */
  def bm25FoldTombstones(spark: SparkSession, table: String): Unit =
    foldTombstonesImpl(spark, table, failAt = -1)

  /** Crash injected by [[foldTombstonesImpl]]'s test seam. */
  private[graft] final class InjectedFoldCrash(val at: Int)
    extends RuntimeException(s"injected fold crash after boundary $at")

  /** [[bm25FoldTombstones]] with a crash-injection seam: `failAt` ≥ 0
    * throws [[InjectedFoldCrash]] immediately AFTER the numbered
    * boundary — 0 lock write, then after the swap of 1 `_terms`,
    * 2 `_stats`, 3 postings, 4 `_pos`, 5 tombstone clear (before lock
    * release). `failIn = (s, i)` throws
    * [[BucketedJoin.InjectedWaveCrash]] after boundary i of table `s`'s
    * rewrite (`""` postings, `_terms`, `_stats`, `_pos`; i of
    * [[BucketedJoin.rewriteBucketedImpl]]'s numbering — 0 its stage
    * landed, a kill inside the wave before any swap; 2 renamed aside,
    * a kill between the renames of its swap). The chaos spec drives
    * every boundary and asserts [[bm25Query]] heals to bit-identical
    * scores; production calls pass -1 and None (no injection).
    */
  private[graft] def foldTombstonesImpl(spark: SparkSession, table: String,
                                        failAt: Int,
                                        failIn: Option[(String, Int)] = None)
      : Unit = {
    def boundary(i: Int): Unit =
      if (failAt == i) throw new InjectedFoldCrash(i)
    val lock = s"${table}_foldlock"
    Tombstones.idSet(spark, table) match {
      case None =>
        // a fold that died between clearing the set and releasing the
        // lock already rewrote everything — just release
        if (tableExists(spark, lock)) BucketedJoin.dropWithLocation(spark, lock)
      case Some(ids) =>
        if (!tableExists(spark, lock)) {
          // presence is the marker: an empty table, no Spark job
          BucketedJoin.dropWithLocation(spark, lock)
          spark.sql(s"CREATE TABLE $lock (locked BIGINT) USING parquet")
        }
        boundary(0)
        val drop = (df: DataFrame) => Tombstones.without(df, "doc_id", ids)
        val parts = Seq(
          ("_terms", "term", (_: DataFrame) => dictOf(drop(spark.table(table)))),
          ("_stats", "n_docs", (_: DataFrame) => statsOf(drop(spark.table(table)))),
          ("", "term", drop), ("_pos", "term", drop))
        // boundary i + 1 follows part i's swap, present or not
        val swapped = parts.map(p => s"$table${p._1}")
        BucketedJoin.rewriteAll(spark,
          parts.map { case (s, key, f) =>
            BucketedJoin.Rewrite(s"$table$s", key, f) },
          seam = (t, i) => {
            if (failIn.exists { case (s, at) => t == s"$table$s" && at == i })
              throw new BucketedJoin.InjectedWaveCrash(t, i)
            if (i == 4) boundary(swapped.indexOf(t) + 1)
          })
        boundary(4) // an index without `_pos` reaches it here
        Tombstones.clear(spark, table)
        boundary(5)
        BucketedJoin.dropWithLocation(spark, lock)
    }
  }

  /** BM25 top-k over the persisted index. Output: (qid, doc_id,
    * score_micro, rnk) — micro-unit integer scores (see the object doc),
    * ranked (score desc, doc_id asc), ranks 1-based. The one-index
    * family of [[bm25Family]], which carries the plan, the control read
    * and the exactness notes.
    *
    * `maxDfFrac` (default 1.0 = exact scoring over every query term):
    * query terms whose df exceeds `maxDfFrac · N` are PRUNED before the
    * postings join — static stop-term pruning, the classic lexical-
    * serving scale dial (the dynamic form is WAND). A term with df ≈ N
    * forces an O(N) scoring pass and contributes near-zero idf to the
    * final ranking. MEASURED (DevRetrieval, BASELINE.md round-12
    * serving curve + pushdown supersession): on a log-uniform
    * 131k-word corpus (stop-word head, df ≈ N), exact serving costs
    * 205 ms/q at 10⁶ docs and 3,394 ms/q at 10⁷ — bound by the head
    * terms' posting mass — while df≤1% pruning serves at 36 and
    * 109 ms/q, because with the dial engaged the query-term scan
    * pushdown narrows the index read to the surviving terms' row
    * groups and the cost tracks those posting lists, not the corpus.
    * No OOM at 10⁷ under a 4.6 GiB heap; treat the dial as the
    * latency/cost control, with memory exhaustion the expected failure
    * mode only at 10⁸+ df≈N posting lists. Results for a query whose
    * terms are ALL under the cap are bit-identical to exact.
    */
  def bm25Query(spark: SparkSession, table: String, queries: DataFrame,
                qidCol: String, textCol: String, k: Int,
                k1: Double = 1.2, b: Double = 0.75,
                maxDfFrac: Double = 1.0): DataFrame =
    bm25Family(spark, Seq(table), queries, qidCol, textCol, k, k1, b,
      maxDfFrac).ranked

  /** The MaxScore dial bundle — the four cost dials of the pruned
    * entry points as one value, and the dial value of [[bm25Family]].
    * Callers that ROUTE through the pruned path rather than call an
    * entry directly (e.g. [[graft.operators.Fusion]]'s `lexMaxScore`
    * leg selector) pass it as is. Defaults are the entry points'
    * defaults; every dial is cost-only — any setting is exact.
    */
  // The four MaxScore cost-dial defaults, defined ONCE — referenced by
  // [[MaxScoreDials]] and the pruned entry points so a future change to
  // one cannot silently diverge from the others (Fusion's
  // `lexMaxScore = Some(MaxScoreDials())` is documented to mean "the
  // entry points' defaults").
  val DefaultEssentialDfFrac: Double = 0.01
  val DefaultMaxCandBroadcast: Long = 4L << 20
  val DefaultGateMinHeadMass: Long = 1L << 16
  val DefaultGateCandFrac: Double = 0.25

  case class MaxScoreDials(essentialDfFrac: Double = DefaultEssentialDfFrac,
                           maxCandBroadcast: Long = DefaultMaxCandBroadcast,
                           gateMinHeadMass: Long = DefaultGateMinHeadMass,
                           gateCandFrac: Double = DefaultGateCandFrac)

  /** [[bm25Query]] with EXACT MaxScore-style dynamic pruning (Turtle &
    * Flood, "Query evaluation: strategies and optimizations", IP&M
    * 1995 — the set-at-a-time batch form): results are bit-identical to
    * [[bm25Query]] at the same dials, but a query mixing RARE and HEAD
    * terms no longer pushes the head terms' full posting lists through
    * the partial-score shuffle and aggregate — the round-17-adjudicated
    * dominant cost of the scoring leg (BASELINE.md: the pushed scan →
    * partials → top-k machinery is 58% of bench_phrase and all of
    * bench_bm25). The two-pass plan, its threshold proof and its
    * control plane live on [[bm25Family]].
    *
    * Dials: `essentialDfFrac` positions the essential/head split — it
    * is a COST dial only (any split is exact; too low starves pass 1 of
    * candidates and forces fallbacks, too high makes pass 1 itself
    * expensive). The default 0.01 matches the measured df≤1% serving
    * knee (round-12 curve). `maxDfFrac` keeps [[bm25Query]]'s stop-term
    * contract: over-cap terms are DROPPED before anything else, so the
    * result equals bm25Query's at the same dial. `maxCandBroadcast`
    * bounds the candidate sets the driver collects and broadcasts.
    *
    * COST GATE (all driver-side, from the already-collected control
    * rows — exactness never depends on it): a query only ENGAGES the
    * two-pass machinery when its head posting mass is worth
    * eliminating (Σ_{head} df ≥ `gateMinHeadMass`) AND the candidate
    * set genuinely shrinks it (Σ_{essential} df ≤
    * `gateCandFrac`·Σ_{head} df — when the rarest term's list is
    * nearly the corpus, gating pays semi-join cost to prune nothing).
    * Ungated queries run the exact single-pass leg. MEASURED
    * (DevMaxScore, 1e6-doc zipf, medians of 3): tail+head mixed
    * batches serve at 229 vs 2599 ms/q exact (11.3×, the head term's
    * 948k-row posting list gated to the tail candidates), while
    * without the gate natural first-3-token batches paid 1.32× for
    * pass-1 work their geometry couldn't repay and all-head batches
    * 1.06× for candidates ≈ corpus — both of which the gate routes to
    * the exact leg.
    */
  def bm25QueryMaxScore(spark: SparkSession, table: String,
                        queries: DataFrame, qidCol: String,
                        textCol: String, k: Int,
                        k1: Double = 1.2, b: Double = 0.75,
                        maxDfFrac: Double = 1.0,
                        essentialDfFrac: Double = DefaultEssentialDfFrac,
                        maxCandBroadcast: Long = DefaultMaxCandBroadcast,
                        gateMinHeadMass: Long = DefaultGateMinHeadMass,
                        gateCandFrac: Double = DefaultGateCandFrac): DataFrame =
    bm25Family(spark, Seq(table), queries, qidCol, textCol, k, k1, b,
      maxDfFrac, Some(MaxScoreDials(essentialDfFrac, maxCandBroadcast,
        gateMinHeadMass, gateCandFrac))).ranked

  /** Multi-shard BM25 serving — the layout for a corpus whose index
    * cannot live in one table (measured: BASELINE.md round-15 — at 10⁸
    * docs the postings+positional index extrapolates to ~73 GB against
    * this box's 38 GB free; a 1000-executor cluster holds the same
    * index as per-executor-group shards). `tables` are independent
    * [[bm25Build]] indexes over a DOC-DISJOINT partition of the corpus
    * (a doc id must live in exactly one shard — the sharding contract).
    *
    * Results are EXACTLY the single whole-corpus index's (oracle-gated
    * at t32; the argument is on [[bm25Family]]). Scale shape: the stats
    * fold reads S tiny tables, the dict fold S dictionary slices pruned
    * to the query terms, and each shard's postings scan is the
    * single-index plan verbatim (pushed-term pruning included) — cost
    * ≡ Σ shard serving costs, wall-clock ≡ max on a cluster where
    * shards are separate executor groups.
    */
  def bm25ShardedQuery(spark: SparkSession, tables: Seq[String],
                       queries: DataFrame, qidCol: String, textCol: String,
                       k: Int, k1: Double = 1.2, b: Double = 0.75,
                       maxDfFrac: Double = 1.0): DataFrame = {
    require(tables.nonEmpty, "bm25ShardedQuery needs at least one shard")
    bm25Family(spark, tables, queries, qidCol, textCol, k, k1, b,
      maxDfFrac).ranked
  }

  /** [[bm25ShardedQuery]] with the MaxScore two-pass pruning of
    * [[bm25QueryMaxScore]] — the sharded serving layer's head-term
    * dial. Same dials, same per-query fallback, same
    * bit-identical-to-[[bm25ShardedQuery]] contract (gated at t45);
    * the candidate doc-gate applies per shard leg, and the head-mass
    * gate scales with S (see [[bm25Family]]).
    */
  def bm25ShardedQueryMaxScore(spark: SparkSession, tables: Seq[String],
                               queries: DataFrame, qidCol: String,
                               textCol: String, k: Int,
                               k1: Double = 1.2, b: Double = 0.75,
                               maxDfFrac: Double = 1.0,
                               essentialDfFrac: Double = DefaultEssentialDfFrac,
                               maxCandBroadcast: Long = DefaultMaxCandBroadcast,
                               gateMinHeadMass: Long = DefaultGateMinHeadMass,
                               gateCandFrac: Double = DefaultGateCandFrac): DataFrame = {
    require(tables.nonEmpty,
      "bm25ShardedQueryMaxScore needs at least one shard")
    bm25Family(spark, tables, queries, qidCol, textCol, k, k1, b, maxDfFrac,
      Some(MaxScoreDials(essentialDfFrac, maxCandBroadcast,
        gateMinHeadMass, gateCandFrac))).ranked
  }

  /** [[bm25ShardedQuery]] with the S shard legs PLANNED AND EXECUTED in
    * parallel driver-thread groups — the answer to the measured per-leg
    * Catalyst planning residual (BASELINE.md round-16 plan addendum:
    * ~0.24-0.35 s of PURE PLANNING per shard leg, because an S-table
    * union is ONE Catalyst plan built serially on the driver — at
    * O(100) shards that is ~25-35 s per query batch no matter how many
    * executors the scans parallelize over; the reference's JobConf-is-
    * the-plan never paid a per-query planning tax, SURVEY §3.1). The
    * shards partition into ⌈S/parallelism⌉-leg groups, each ranked to
    * its exact local top-k in its own thread and merged (the merge
    * argument is on [[bm25Family]]). Results are EXACTLY
    * [[bm25ShardedQuery]]'s, row for row (spec-pinned).
    *
    * EAGER, by design: this entry executes at call time and returns the
    * merged top-k as a LOCAL frame (k·|queries|·⌈S/parallelism⌉ rows
    * pass through the driver — with the default k this is control-plane
    * mass). The lazy S-leg entry remains the right form when composing
    * into a larger plan or when a single plan per batch amortizes fine;
    * this one is for interactive/small-batch serving at high S, where
    * serial planning dominates.
    */
  def bm25ShardedQueryGrouped(spark: SparkSession, tables: Seq[String],
                              queries: DataFrame, qidCol: String,
                              textCol: String, k: Int,
                              k1: Double = 1.2, b: Double = 0.75,
                              maxDfFrac: Double = 1.0,
                              parallelism: Int = 8): DataFrame = {
    require(tables.nonEmpty, "bm25ShardedQueryGrouped needs at least one shard")
    bm25Family(spark, tables, queries, qidCol, textCol, k, k1, b, maxDfFrac,
      parallelism = Some(parallelism)).ranked
  }

  /** [[bm25ShardedQueryMaxScore]] × [[bm25ShardedQueryGrouped]] — the
    * composition the 100 TB serving story needs at high S:
    * plan-parallel grouped legs (the S ≥ 32 planning-cost fix) AND
    * MaxScore head-term pruning (the per-leg scoring-cost fix) on the
    * SAME query batch; both MaxScore passes run grouped. Per-query
    * fallback, dial semantics, over-cap chunking, the block-UB
    * refinement and the bit-identical-to-[[bm25ShardedQuery]] contract
    * (gated at t48) are the core's ([[bm25Family]]). EAGER like the
    * grouped entries (bounded collects: queries·k rows per group per
    * pass).
    */
  def bm25ShardedQueryMaxScoreGrouped(spark: SparkSession,
                                      tables: Seq[String],
                                      queries: DataFrame, qidCol: String,
                                      textCol: String, k: Int,
                                      k1: Double = 1.2, b: Double = 0.75,
                                      maxDfFrac: Double = 1.0,
                                      essentialDfFrac: Double =
                                        DefaultEssentialDfFrac,
                                      maxCandBroadcast: Long =
                                        DefaultMaxCandBroadcast,
                                      gateMinHeadMass: Long =
                                        DefaultGateMinHeadMass,
                                      gateCandFrac: Double =
                                        DefaultGateCandFrac,
                                      parallelism: Int = 8): DataFrame = {
    require(tables.nonEmpty,
      "bm25ShardedQueryMaxScoreGrouped needs at least one shard")
    bm25Family(spark, tables, queries, qidCol, textCol, k, k1, b, maxDfFrac,
      Some(MaxScoreDials(essentialDfFrac, maxCandBroadcast,
        gateMinHeadMass, gateCandFrac)), Some(parallelism)).ranked
  }

  /** THE bag-of-words serving core: every entry above is a thin wrapper
    * over it. `tables` is a family of S ≥ 1 [[bm25Build]] indexes over
    * a doc-disjoint partition of the corpus (a single index is the
    * one-shard family); `maxScore` selects the two-pass MaxScore plan
    * at the given dials (None = the exact single-pass plan);
    * `parallelism` selects how each pass EXECUTES (None = one lazy plan
    * over every shard leg; Some(p) = ⌈S/p⌉-leg shard groups planned,
    * ranked and collected eagerly on [[fanOut]] threads).
    *
    * Plan: the tokenized query terms shuffle TO the term buckets; the
    * dictionary fold (sum of df deltas) and both index joins are
    * zero-exchange over the index scans; partial scores move as
    * 24-byte rows into the same bounded top-k aggregate the ANN path
    * uses. At S = 1 the family constants ARE the table's own
    * [[correctedStatsFrame]] and [[correctedDict]] — no union, no fold
    * aggregate — so the one-index plan is the plain single-table plan.
    *
    * Control plane: ONE bounded driver job ([[controlRead]]) carries
    * the family's tombstone-corrected (N, Σdl) crossJoined onto the
    * bounded control frame — the distinct query terms (pushed into
    * every scan, or None past the push cap) on the exact plan; on the
    * MaxScore plan the per-(qid, term) corrected df rows, after one
    * [[pushableTerms]] read, with the stop-term dial applied in-plan so
    * capped rows never consume the budget. A batch whose control rows
    * pass [[maxControlRows]] (up to [[msOverflowFactor]]×) packs per
    * qid into ≤ maxControlRows-row chunks ([[chunkRowsByQid]]), each
    * served by the two-pass plan with a chunk-local exact fallback on
    * the [[fanOut]] threads — per-query results are independent of
    * batching, so the chunk union equals the one-shot plan's rows.
    *
    * Exactness, three arguments:
    *
    *  1. DOC-DISJOINT SHARDS NEVER SPLIT A (qid, doc) SUM. Corpus
    *     constants fold ACROSS shards — N and Σdl from the shard stats
    *     rows, df as the sum of the shard dictionaries' counts, both
    *     tombstone-corrected per shard — and every shard scores its own
    *     postings against those GLOBAL constants. A doc's postings live
    *     in one shard, so the per-(qid, doc) sum over the union of
    *     shard partials is the whole-index value, term for term; the
    *     integer micro-unit partials make it bit-identical.
    *
    *  2. THE MAXSCORE THRESHOLD. Per query, terms split into ESSENTIAL
    *     (df ≤ `essentialDfFrac`·N, always at least the rarest term)
    *     and NON-ESSENTIAL (the head). Every term's per-doc
    *     contribution is bounded above by ub(t) = ⌈idf(t)·(k1+1)·10⁶⌉
    *     micro-units (w < k1+1 for every tf, dl). Pass 1 scores the
    *     essential terms alone and takes each query's k-th best
    *     essential-only sum L. If Σ_{head} ub(t) < L strictly, then at
    *     least k documents carrying an essential term have FULL score ≥
    *     L, while any document with NO essential term scores ≤ Σ ub <
    *     L — so the true top-k live inside pass 1's candidates,
    *     whatever the tie-break. Tighter still, per doc: a candidate
    *     whose essential sum is below L − Σ ub sits strictly below the
    *     final k-th best, and with the block-max layout each
    *     candidate's head bound sharpens to the (max_tf, min_dl) of the
    *     block it lives in (monotone bounds, [[bm25Build]]). Pass 2
    *     then scores ALL terms with the postings doc-gated to the
    *     surviving candidates. Queries that fail the check run the
    *     exact ungated leg in the same plan, and a batch with nothing
    *     to prune runs the exact plan verbatim. The bound reads the
    *     corrected df — the value scoring uses.
    *
    *  3. THE GROUPED TOP-K MERGE. Groups partition the doc-disjoint
    *     shards and score against the same injected global constants
    *     under one total order (score desc, doc_id asc), so each
    *     global top-k member survives its own group's local top-k and
    *     the merge of the bounded group lists re-ranks it into place
    *     (the [[Similarity.mergeShardTopK]] argument). Applied to pass
    *     1, the merged k-th best IS the global L; applied to pass 2, a
    *     group's own candidates are the global candidate set restricted
    *     to its docs, so gating each group by them equals the
    *     one-plan gate.
    *
    * Cost notes. When the pass-1 output is provably control-plane
    * sized (Σ_engaged candBound ≤ `maxCandBroadcast`) its (qid, nid,
    * cos) rows collect ONCE per group and the threshold, the tightened
    * candidates and the block refinement all derive locally — one job
    * instead of one pass-1 execution per consumer; past it, the
    * per-group top-k gives L and pass 2 gates through shuffle
    * semi-joins. Broadcast candidate sets are MATERIALIZED as a literal
    * per group, which keeps pass 2 O(S) plans (a plan-side candidate
    * set embeds the S-leg pass-1 union in every leg — an S² planning
    * hang at S = 32, BASELINE.md round-18). The head-mass gate scales
    * with S: each leg prunes only its 1/S share of a head list while
    * paying its own two-pass overhead (DevShardGrowth `ms`, 1e6 × S=32).
    *
    * Returns the ranked frame with what the control read already
    * established ([[BowServed]]), so a passage pass over the same
    * batch ([[attachBestTermSnippets]]) reads nothing twice.
    */
  private[operators] def bm25Family(spark: SparkSession, tables: Seq[String],
                                    queries: DataFrame, qidCol: String,
                                    textCol: String, k: Int,
                                    k1: Double = 1.2, b: Double = 0.75,
                                    maxDfFrac: Double = 1.0,
                                    maxScore: Option[MaxScoreDials] = None,
                                    parallelism: Option[Int] = None)
      : BowServed = {
    require(tables.nonEmpty, "a BM25 family needs at least one index")
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      s"maxDfFrac must be in (0, 1], got $maxDfFrac")
    maxScore.foreach { d =>
      require(d.essentialDfFrac > 0.0 && d.essentialDfFrac <= 1.0,
        s"essentialDfFrac must be in (0, 1], got ${d.essentialDfFrac}")
      require(d.gateMinHeadMass >= 0,
        s"gateMinHeadMass must be non-negative, got ${d.gateMinHeadMass}")
      require(d.gateCandFrac > 0.0,
        s"gateCandFrac must be positive, got ${d.gateCandFrac}")
      require(k >= 1, s"k must be positive, got $k")
    }
    val passes = Passes(tables.size, parallelism)
    GraftFunctions.ensureRegistered(spark)
    raiseInFilterThreshold(spark, maxInPushValues)
    tables.foreach(healFold(spark, _))
    val qt = queries
      .select(col(qidCol).as("qid"), explode(toks(col(textCol))).as("term"))
      .distinct()
    // the exact leg; `stats` None (a batch with no control rows) reads
    // the family stats itself
    def exact(q: DataFrame, qterms: Option[Seq[String]],
              stats: Option[(Long, Long)]): DataFrame = {
      val c = consts(spark, tables, qterms, maxDfFrac, stats)
      passes.rank(spark, k)(g => sumParts(g.map(i => partialsWith(spark,
        tables(i), q, k1, b, c.nDocs, c.avgdl, c.dict, qterms, None,
        broadcastDocs = false)).reduce(_.unionByName(_))))
    }
    val d = maxScore match {
      case None =>
        val (qterms, stats) = ctrlTermsStats(spark, tables, qt)
        return BowServed(exact(qt, qterms, stats), qt, qterms, stats)
      case Some(d) => d
    }
    val qterms = pushableTerms(spark, qt)
    val qdf = qt.join(familyDict(spark, tables, qterms), Seq("term"))
      .select(col("qid"), col("term"), col("df"))
    val softCap = maxControlRows * msOverflowFactor
    val (ctrlRows, stats) =
      controlRead(spark, Seq(tables -> qdf), softCap, maxDfFrac).head
    def served(ranked: DataFrame) = BowServed(ranked, qt, qterms, stats)
    if (ctrlRows.isEmpty) // nothing indexed
      return served(exact(qt, qterms, None))
    if (ctrlRows.length > softCap) return served(exact(qt, qterms, stats))
    val (nDocs, dlSum) = stats.get
    require(nDocs > 0, emptyMsg(tables))
    val avgdl = dlSum.toDouble / nDocs.toDouble
    // the stop-term dial, applied exactly where the exact leg applies it
    val capDf = if (maxDfFrac < 1.0) (maxDfFrac * nDocs).toLong
      else Long.MaxValue
    val capped = ctrlRows.iterator.map(r => Row(r.get(0), r.get(1), r.get(2)))
      .filter(_.getLong(2) <= capDf).toSeq
    // block-max layout facts, LAZY — read only when pass 2 engages with
    // a materialized candidate set; the refinement needs ONE family-wide
    // width (mixed or absent widths disable it, the per-leg scan push
    // still engages wherever a shard carries the layout)
    lazy val bws = blockMetas(spark, tables)
    def uniW = if (bws.forall(_.isDefined) && bws.flatten.distinct.size == 1)
      bws.head else None
    // literal re-injection of collected control rows: a LOCAL relation
    // Catalyst sizes, from which both passes draw their (qid, term)
    // pairs and dictionary slices without re-planning the dictionary
    def litFrame(rs: Seq[Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rs: _*), qdf.schema)
    // one pass's shard legs over group g for the control rows `rs`
    def scored(g: Seq[Int], rs: Seq[Row], docFilter: Option[DataFrame] = None,
               bcast: Boolean = false,
               docVals: Option[Seq[Any]] = None): DataFrame = {
      val qtF = litFrame(rs).select("qid", "term")
      val dictF = litFrame(rs.groupBy(_.getString(1)).map(_._2.head).toSeq)
        .select("term", "df")
      val terms = Some(rs.map(_.getString(1)).distinct)
      g.map(i => partialsWith(spark, tables(i), qtF, k1, b, nDocs, avgdl,
          dictF, terms, docFilter, bcast, docVals,
          if (docVals.isDefined) bws(i) else None))
        .reduce(_.unionByName(_))
    }
    // the two-pass plan over one chunk of control rows (argument 2)
    def twoPass(rows: Seq[Row], fallback: () => DataFrame): DataFrame = {
      if (rows.isEmpty) return fallback() // every term over the dial
      val plans = maxScorePlans(rows, nDocs, k1, d.essentialDfFrac)
      def engages(p: MsPlan): Boolean = p.neSum > 0L &&
        p.headMass >= d.gateMinHeadMass * tables.size &&
        p.candBound.toDouble <= d.gateCandFrac * p.headMass.toDouble
      if (!plans.valuesIterator.exists(engages)) return fallback()
      val pruneQids = plans.filter(p => engages(p._2)).keySet
      val essRows = rows.filter(r =>
        pruneQids(r.get(0)) && plans(r.get(0)).ess(r.getString(1)))
      def pass1(g: Seq[Int]): DataFrame = sumParts(scored(g, essRows))
      // fused control plane: bounded pass-1 rows collect once per group
      val p1Bound = pruneQids.iterator.map(q => plans(q).candBound).sum
      val p1Local =
        if (p1Bound <= d.maxCandBroadcast) Some(passes.collect(spark)(pass1))
        else None
      val l1 = kthBest(p1Local.getOrElse(passes.topK(spark, k)(pass1))
        .flatMap(_._2), k)
      val safeQids: Set[Any] = pruneQids.filter(q =>
        l1.get(q).exists(_ > plans(q).neSum)).toSet
      if (safeQids.isEmpty) return fallback() // no query verified
      val safeRows = rows.filter(r => safeQids(r.get(0)))
      val otherRows = rows.filterNot(r => safeQids(r.get(0)))
      def thresh(q: Any): Long = l1(q) - plans(q).neSum
      // block-UB refinement: keep a candidate unless essSum + Σ_head
      // bub(t, blk(d)) misses its query's L; None = keep everything
      // (no uniform layout, or a slice past the control cap)
      def refine(cand: => Option[Seq[Row]], nCand: Int): Option[Seq[Any]] =
        uniW.filter(_ => nCand <= maxControlRows).flatMap { bw =>
          cand.flatMap { cs =>
            val headDf: Map[Any, Seq[(String, Long)]] =
              safeRows.filter(r => !plans(r.get(0)).ess(r.getString(1)))
                .groupBy(_.get(0))
                .map { case (q, rs) =>
                  q -> rs.map(r => (r.getString(1), r.getLong(2))) }
            val headTerms = headDf.valuesIterator.flatMap(_.map(_._1))
              .toSeq.distinct
            val blks = cs.map(r => blkOf(r.get(1), bw)).distinct
            blkBoundsFetch(spark, tables, headTerms, blks).map { bounds =>
              def ubMicro(df: Long, maxTf: Long, minDl: Long): Long = {
                val idf = math.log((nDocs.toDouble - df + 0.5)
                  / (df + 0.5) + 1.0)
                val w = maxTf * (k1 + 1.0) /
                  (maxTf + k1 * (1.0 - b + b * minDl / avgdl))
                math.ceil(idf * w * 1000000.0).toLong
              }
              cs.iterator.filter { r =>
                val (q, doc, ess) = (r.get(0), r.get(1), r.getDouble(2).toLong)
                val blk = blkOf(doc, bw)
                ess + headDf.getOrElse(q, Nil).iterator.map {
                  case (t, df) => bounds.get((t, blk))
                    .map { case (mt, md) => ubMicro(df, mt, md) }
                    .getOrElse(0L) // no block row — no posting, 0
                }.sum >= l1(q) // keep unless strictly below
              }.map(_.get(1)).toSeq.distinct
            }
          }
        }
      val candBound = safeQids.iterator.map(q => plans(q).candBound).sum
      val bcastCand = p1Local.isDefined || candBound <= d.maxCandBroadcast
      // fused flow: every group's candidates derive from its own
      // collected rows — no additional pass-1 work
      val fused = p1Local.map { parts =>
        val candRows = parts.map(_._2.toSeq.filter(r => safeQids(r.get(0)) &&
          r.getDouble(2) >= thresh(r.get(0)).toDouble))
        val vals = candRows.map(_.map(_.get(1)).distinct)
        val n = vals.iterator.map(_.size).sum // groups are doc-disjoint
        val nid = parts.head._1("nid")
        (StructField("doc_id", nid.dataType, nid.nullable),
          refine(Some(candRows.flatten), n) match {
            case Some(kept) if kept.size < n =>
              val keep = kept.toSet
              vals.map(_.filter(keep))
            case _ => vals
          })
      }
      lazy val threshF = spark.createDataFrame(
        java.util.Arrays.asList(safeQids.toSeq.map(q =>
          Row(q, java.lang.Long.valueOf(thresh(q)))): _*),
        StructType(Seq(qdf.schema.head,
          StructField("thresh", LongType, nullable = false))))
      def candidates(g: Seq[Int]): (DataFrame, Option[Seq[Any]]) = fused match {
        case Some((docF, vals)) =>
          val v = vals(passes.groups.indexOf(g))
          (idFrame(spark, v, docF), Some(v))
        case None =>
          // the inner join against the tiny thresh frame both restricts
          // to the safe qids and applies each query's bar
          def candEss() = pass1(g).join(threshF, Seq("qid"))
            .filter(col("cos") >= col("thresh").cast("double"))
          val plan = candEss().select(col("nid").as("doc_id")).distinct()
          if (!bcastCand) (plan, None) else {
            val (f0, vals0) = materializeIds(spark, plan)
            // the refinement re-reads pass 1 hard-bounded
            refine({
              val cap = maxControlRows * 8
              val rs = candEss().select("qid", "nid", "cos")
                .limit(cap + 1).collect()
              if (rs.length > cap) None else Some(rs.toSeq)
            }, vals0.size) match {
              case Some(kept) if kept.size < vals0.size =>
                (idFrame(spark, kept, plan.schema.head), Some(kept))
              case _ => (f0, Some(vals0))
            }
          }
      }
      passes.rank(spark, k) { g =>
        val (cand, vals) = candidates(g)
        val safe = scored(g, safeRows, Some(cand), bcastCand, vals)
        sumParts(if (otherRows.isEmpty) safe
          else safe.unionByName(scored(g, otherRows)))
      }
    }
    served(if (capped.length <= maxControlRows)
      twoPass(capped, () => exact(qt, qterms, stats))
    else {
      val (chunks, exactRows) = chunkRowsByQid(capped, maxControlRows)
      def chunkExact(rs: Seq[Row]): DataFrame = exact(
        spark.createDataFrame(java.util.Arrays.asList(
          rs.map(r => Row(r.get(0), r.get(1))).distinct: _*),
          StructType(qdf.schema.take(2))),
        Some(rs.map(_.getString(1)).distinct), stats)
      (fanOut(spark, chunks, 4)(c => twoPass(c, () => chunkExact(c))) ++
          Some(exactRows).filter(_.nonEmpty).map(chunkExact))
        .reduce(_.unionByName(_))
    })
  }

  /** What one bag-of-words serve hands back: the ranked top-k and what
    * its control read established — the query-term frame, the pushed
    * terms and the family's corrected (N, Σdl) (None when the read
    * returned no row). */
  private[operators] final case class BowServed(ranked: DataFrame,
                                                qt: DataFrame,
                                                qterms: Option[Seq[String]],
                                                stats: Option[(Long, Long)])

  /** The bounded `(term, blk) → (max_tf, min_dl)` control slice behind
    * the block-UB refinement ([[bm25Family]]): the `_blkmax` deltas of
    * `tables`, pruned to the head terms and candidate blocks, folded
    * max/min — across shards the fold is still a valid upper bound (a
    * doc lives in ONE shard, and max-over-shards ≥ its own shard's
    * max). None when the slice exceeds [[maxControlRows]] (the
    * refinement then keeps every candidate — cost, never correctness).
    */
  private def blkBoundsFetch(spark: SparkSession, tables: Seq[String],
                             terms: Seq[String], blks: Seq[Long])
      : Option[Map[(String, Long), (Long, Long)]] = {
    if (terms.isEmpty || blks.isEmpty)
      return Some(Map.empty)
    val slice = tables.map(t =>
        pruneToTerms(spark.table(s"${t}_blkmax"), Some(terms)))
      .reduce(_.unionByName(_))
      .filter(col("blk").isin(blks: _*))
      .groupBy("term", "blk")
      .agg(max("max_tf").as("max_tf"), min("min_dl").as("min_dl"))
    val rows = slice.limit(maxControlRows + 1).collect()
    if (rows.length > maxControlRows) None
    else Some(rows.iterator.map(r => (r.getString(0), r.getLong(1)) ->
      (r.getLong(2), r.getLong(3))).toMap)
  }

  /** One query's MaxScore plan facts, computed from the bounded
    * (qid, term, df) control rows: the essential term set (df ≤
    * essCap, always at least the rarest term), the head terms' summed
    * score upper bound in micro-units (`neSum` — what pass 1's k-th
    * best must beat), the candidate-count bound (Σ essential df), and
    * the head posting mass (Σ head df — what pass 2's doc gate
    * eliminates). */
  private final case class MsPlan(ess: Set[String], neSum: Long,
                                  candBound: Long, headMass: Long)

  private def maxScorePlans(rows: Seq[Row], nDocs: Long, k1: Double,
                            essentialDfFrac: Double): Map[Any, MsPlan] = {
    val essCap = math.max(1L, (essentialDfFrac * nDocs).toLong)
    def ubMicro(df: Long): Long = math.ceil(
      math.log((nDocs.toDouble - df + 0.5) / (df + 0.5) + 1.0)
        * (k1 + 1.0) * 1000000.0).toLong
    rows.groupBy(_.get(0)).map { case (qid, rs) =>
      val sorted = rs.sortBy(r => (r.getLong(2), r.getString(1)))
      val rarest = sorted.head.getString(1)
      val ess = sorted.iterator.filter(_.getLong(2) <= essCap)
        .map(_.getString(1)).toSet + rarest
      val neSum = sorted.iterator.filter(r => !ess(r.getString(1)))
        .map(r => ubMicro(r.getLong(2))).sum
      val candBound = sorted.iterator.filter(r => ess(r.getString(1)))
        .map(_.getLong(2)).sum
      val headMass = sorted.iterator.filter(r => !ess(r.getString(1)))
        .map(_.getLong(2)).sum
      (qid, MsPlan(ess, neSum, candBound, headMass))
    }
  }

  /** Each query's k-th best score from (qid, nid, cos) rows — a
    * group-merged top-k or a full pass-1 collect give the same value
    * (the k-th VALUE is order-insensitive under ties); queries with
    * fewer than k rows have none. */
  private def kthBest(rows: Seq[Row], k: Int): Map[Any, Long] =
    rows.groupBy(_.get(0)).flatMap { case (q, qr) =>
      val top = qr.map(_.getDouble(2)).sorted(Ordering[Double].reverse)
      if (top.length >= k) Some(q -> top(k - 1).toLong) else None
    }

  /** THE control read of both serving cores: ONE bounded driver job
    * collecting, per leg `(tables, ctl)`, ≤ `cap` + 1 rows of the
    * control frame `ctl` with the leg's corrected (N, Σdl)
    * ([[familyStats]] of `tables`) crossJoined on — every separate
    * bounded driver read is a full Spark job of ~0.3-0.5 s fixed
    * latency at the 1e7 decade (round 20), so the stats ride along.
    * [[bm25Family]] reads one leg (the family's terms, the family's
    * stats); [[posFamily]] reads one leg per shard (that shard's df
    * rows and stats), unioned under a leg tag with the `limit` inside
    * each leg, so every leg's rows and overflow decision are those of
    * its own read. `maxDfFrac` < 1 applies the stop-term dial in-plan
    * to `ctl`'s `df` column BEFORE the limit, so capped rows never
    * consume the budget. Returns per leg the rows (stats columns
    * appended) and the stats, None when the leg returned no row. */
  private def controlRead(spark: SparkSession,
                          legs: Seq[(Seq[String], DataFrame)], cap: Int,
                          maxDfFrac: Double = 1.0)
      : Seq[(Array[Row], Option[(Long, Long)])] = {
    val frames = legs.map { case (tables, ctl) =>
      val statsF = familyStats(spark, tables)
      if (maxDfFrac < 1.0)
        ctl.crossJoin(statsF)
          .filter(col("df") <= (lit(maxDfFrac) * col("n")).cast("long"))
          .limit(cap + 1)
      else ctl.limit(cap + 1).crossJoin(statsF)
    }
    val w = legs.head._2.columns.length
    val rows = if (frames.size == 1) Seq(frames.head.collect()) else {
      GraftFunctions.unionGuard(spark)
      val byLeg = frames.zipWithIndex.map { case (f, i) =>
        f.withColumn("_leg", lit(i)) }.reduce(_.unionByName(_)).collect()
        .groupBy(_.getInt(w + 2))
      legs.indices.map(byLeg.getOrElse(_, Array.empty[Row]))
    }
    rows.map(rs => (rs, rs.headOption.map(r => (r.getLong(w), r.getLong(w + 1)))))
  }

  /** [[controlRead]] of the distinct query terms: the pushed term list
    * (None past `maxPushTerms` — unpruned scans, see [[pushableTerms]])
    * and the family stats in one job. An empty batch leaves the stats
    * unread (None). */
  private def ctrlTermsStats(spark: SparkSession, tables: Seq[String],
                             qt: DataFrame, maxPushTerms: Int = 1 << 12)
      : (Option[Seq[String]], Option[(Long, Long)]) = {
    val (rows, stats) = controlRead(spark,
      Seq(tables -> qt.select("term").distinct()), maxPushTerms).head
    (if (rows.length > maxPushTerms) None
     else Some(rows.map(_.getString(0)).toSeq), stats)
  }

  /** [[bm25PhraseQuery]] over doc-disjoint shards: the shard family
    * of [[posFamily]], which carries the plan and the exactness
    * argument (oracle-gated at t32). The truncation dial stays off
    * (exact matching): per-shard df-based sampling would diverge from
    * the whole-index dial's semantics.
    */
  def bm25ShardedPhraseQuery(spark: SparkSession, tables: Seq[String],
                             queries: DataFrame, qidCol: String,
                             textCol: String, k: Int,
                             k1: Double = 1.2, b: Double = 0.75,
                             maxCandBroadcast: Long = 4L << 20,
                             gateMinPosMass: Long = 1L << 22): DataFrame = {
    require(tables.nonEmpty, "bm25ShardedPhraseQuery needs at least one shard")
    posFamily(spark, tables, queries, qidCol, textCol,
      "bm25ShardedPhraseQuery", None, k, k1, b, 1.0, maxCandBroadcast,
      gateMinPosMass).ranked
  }

  /** [[bm25ProximityQuery]] over doc-disjoint shards: the shard family
    * of [[posFamily]] (oracle-gated at t33). Same contracts as
    * [[bm25ShardedPhraseQuery]].
    *
    * `maxPosMass` is by default the FAMILY budget — each shard's gated
    * position mass is budgeted at `max(1, maxPosMass / S)`, so an
    * S-shard deployment carries the same total mass bound as the single
    * index it replaced (the single-index semantics a caller who never
    * thinks about shard counts expects; on a cluster where shards are
    * executor groups the honest per-box bound is the divided one too).
    * `perShardBudget = true` restores the legacy semantics: every shard
    * budgets `maxPosMass` independently — S× the family total, for
    * deployments sizing the budget per shard box. Either way the
    * truncation auto-route can engage on one shard while the others
    * stay exact (each routing shard names itself in its warn); the t33
    * "sharded ≡ whole" contract holds only while NO shard routes.
    */
  def bm25ShardedProximityQuery(spark: SparkSession, tables: Seq[String],
                                queries: DataFrame, qidCol: String,
                                textCol: String, k: Int, window: Int,
                                k1: Double = 1.2, b: Double = 0.75,
                                maxCandBroadcast: Long = 4L << 20,
                                gateMinPosMass: Long = 1L << 22,
                                maxPosMass: Long = 1L << 31,
                                perShardBudget: Boolean = false): DataFrame = {
    require(tables.nonEmpty,
      "bm25ShardedProximityQuery needs at least one shard")
    posFamily(spark, tables, queries, qidCol, textCol,
      "bm25ShardedProximityQuery", Some(window), k, k1, b, 1.0,
      maxCandBroadcast, gateMinPosMass, maxPosMass, perShardBudget).ranked
  }

  /** [[bm25ShardedPhraseQuery]] in the plan-parallel grouped form (see
    * [[bm25ShardedQueryGrouped]] — the positional legs carry the
    * heaviest per-leg planning, ~0.35 s each, so grouping pays off
    * most here): [[posFamily]] with each group's phrase alignment and
    * global-stats scoring planned on its own thread after the one
    * control read. EAGER; results exactly [[bm25ShardedPhraseQuery]]'s.
    */
  def bm25ShardedPhraseQueryGrouped(spark: SparkSession,
                                    tables: Seq[String],
                                    queries: DataFrame, qidCol: String,
                                    textCol: String, k: Int,
                                    k1: Double = 1.2, b: Double = 0.75,
                                    maxCandBroadcast: Long = 4L << 20,
                                    gateMinPosMass: Long = 1L << 22,
                                    parallelism: Int = 8): DataFrame = {
    require(tables.nonEmpty,
      "bm25ShardedPhraseQueryGrouped needs at least one shard")
    posFamily(spark, tables, queries, qidCol, textCol,
      "bm25ShardedPhraseQueryGrouped", None, k, k1, b, 1.0, maxCandBroadcast,
      gateMinPosMass, parallelism = Some(parallelism)).ranked
  }

  /** [[bm25ShardedProximityQuery]] in the plan-parallel grouped form
    * (see [[bm25ShardedQueryGrouped]] and [[posFamily]]). Same divided
    * `maxPosMass` family-budget semantics as the lazy entry. EAGER;
    * results exactly [[bm25ShardedProximityQuery]]'s.
    */
  def bm25ShardedProximityQueryGrouped(spark: SparkSession,
                                       tables: Seq[String],
                                       queries: DataFrame, qidCol: String,
                                       textCol: String, k: Int,
                                       window: Int,
                                       k1: Double = 1.2, b: Double = 0.75,
                                       maxCandBroadcast: Long = 4L << 20,
                                       gateMinPosMass: Long = 1L << 22,
                                       maxPosMass: Long = 1L << 31,
                                       perShardBudget: Boolean = false,
                                       parallelism: Int = 8): DataFrame = {
    require(tables.nonEmpty,
      "bm25ShardedProximityQueryGrouped needs at least one shard")
    posFamily(spark, tables, queries, qidCol, textCol,
      "bm25ShardedProximityQueryGrouped", Some(window), k, k1, b, 1.0,
      maxCandBroadcast, gateMinPosMass, maxPosMass, perShardBudget,
      Some(parallelism)).ranked
  }

  /** Test-only plan probe: the grouped entries are EAGER (per-thread
    * plan + collect), so their per-group physical plans never appear in
    * the returned DataFrame — a mechanism assertion (PlanShapeSpec)
    * cannot see them post-hoc. When non-null, every grouped stage
    * deposits (group-indices, executedPlan string) here before its
    * collect. Never set outside tests; null costs one atomic read per
    * group. */
  private[graft] val groupPlanProbe = new java.util.concurrent.atomic
    .AtomicReference[java.util.concurrent.ConcurrentLinkedQueue[
      (Seq[Int], String)]](null)

  /** How a family pass executes: lazily as ONE plan over every shard
    * leg (`groups` = the one all-shard group), or eagerly per shard
    * group — each group's plan built, run and collected on its own
    * [[fanOut]] thread, the per-leg Catalyst planning cost overlapping
    * across threads. Concurrent actions on one SparkSession are
    * supported. The workers raise no conf: every serving entry raises
    * the IN-pushdown threshold ([[raiseInFilterThreshold]]) on its
    * caller thread before it fans out; the one write left on these
    * paths is the idempotent [[GraftFunctions.unionGuard]]. */
  private final case class Passes(groups: Seq[Seq[Int]], eager: Boolean) {

    /** Every group's frame, collected in full (callers bound it). */
    def collect(spark: SparkSession)(frame: Seq[Int] => DataFrame)
        : Seq[(StructType, Array[Row])] =
      fanOut(spark, groups, groups.size) { g =>
        val df = frame(g)
        val probe = groupPlanProbe.get()
        if (eager && probe != null)
          probe.add((g, df.queryExecution.executedPlan.toString))
        (df.schema, df.collect())
      }

    /** Every group's exact local top-k (qid, nid, cos) rows. */
    def topK(spark: SparkSession, k: Int)(frame: Seq[Int] => DataFrame)
        : Seq[(StructType, Array[Row])] =
      collect(spark)(g => Similarity.rankTopK(frame(g), k)
        .select(col("qid"), col("nid"), col("cos")))

    /** The family top-k of the scored (qid, nid, cos) frames: the lazy
      * plan, or the re-ranked union of the bounded group top-ks. */
    def rank(spark: SparkSession, k: Int)(frame: Seq[Int] => DataFrame)
        : DataFrame =
      if (!eager) rankOut(frame(groups.head), k)
      else {
        val parts = topK(spark, k)(frame)
        rankOut(spark.createDataFrame(
          java.util.Arrays.asList(parts.flatMap(_._2): _*), parts.head._1), k)
      }
  }

  /** A family of `nShards` runs lazily without `parallelism`, else in
    * ⌈S/parallelism⌉-shard groups. */
  private object Passes {
    def apply(nShards: Int, parallelism: Option[Int]): Passes =
      parallelism match {
        case None => Passes(Seq(0 until nShards), eager = false)
        case Some(p) =>
          require(p >= 1, s"parallelism must be >= 1, got $p")
          val par = math.max(1, math.min(p, nShards))
          Passes((0 until nShards)
            .grouped(math.ceil(nShards.toDouble / par).toInt).toSeq,
            eager = true)
      }
  }

  /** Top-k of a scored (qid, nid, cos) frame in the output schema
    * (qid, doc_id, score_micro, rnk). */
  private def rankOut(scored: DataFrame, k: Int): DataFrame =
    Similarity.rankTopK(scored, k)
      .select(col("qid"), col("nid").as("doc_id"),
        col("cos").cast("long").as("score_micro"),
        col("rank").as("rnk"))

  /** Per-(qid, doc) sum of micro-unit partials: an exact long sum,
    * viewed as the double `cos` the ranker reads. */
  private def sumParts(partials: DataFrame): DataFrame =
    partials.groupBy("qid", "nid")
      .agg(sum("partial").cast("double").as("cos"))

  /** A family's corpus constants: N, avgdl and the query terms'
    * corrected df with the `maxDfFrac` stop-term dial applied to the
    * FAMILY df (global semantics, matching the single index). */
  private final case class Consts(nDocs: Long, avgdl: Double,
                                  dict: DataFrame)

  /** [[Consts]] from already-read (N, Σdl) `stats`, or one driver read
    * of [[familyStats]]. The exactness-critical fold lives HERE only —
    * scoring and snippet argmax must never disagree on it. */
  private def consts(spark: SparkSession, tables: Seq[String],
                     qterms: Option[Seq[String]], maxDfFrac: Double,
                     stats: Option[(Long, Long)]): Consts = {
    val (nDocs, dlSum) = stats.getOrElse(readStats(spark, tables))
    require(nDocs > 0, emptyMsg(tables))
    val dict = familyDict(spark, tables, qterms)
    // exact long sum over exact long sum — both engines divide the
    // same two numbers, so avgdl is bit-identical cross-engine
    Consts(nDocs, dlSum.toDouble / nDocs.toDouble,
      if (maxDfFrac < 1.0)
        dict.filter(col("df") <= lit((maxDfFrac * nDocs).toLong))
      else dict)
  }

  private def emptyMsg(tables: Seq[String]): String =
    if (tables.size == 1) s"bm25Query: index ${tables.head} is empty"
    else s"sharded query: every shard of $tables is empty"

  /** The family's tombstone-corrected (N docs, Σ dl) as a ONE-ROW
    * FRAME: the table's own [[correctedStatsFrame]] at S = 1, else
    * every shard's frame unioned and summed — still one driver job
    * when read (the per-shard form paid ~0.25 s of job latency per
    * shard, DevShardGrowth `plan`). */
  private def familyStats(spark: SparkSession,
                          tables: Seq[String]): DataFrame =
    if (tables.size == 1) correctedStatsFrame(spark, tables.head)
    else {
      GraftFunctions.unionGuard(spark)
      tables.map(correctedStatsFrame(spark, _)).reduce(_.unionByName(_))
        .agg(coalesce(sum("n"), lit(0L)).as("n"),
          coalesce(sum("s"), lit(0L)).as("s"))
    }

  /** [[familyStats]] read: one driver job. */
  private def readStats(spark: SparkSession,
                        tables: Seq[String]): (Long, Long) = {
    val r = familyStats(spark, tables).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The family's term-pruned, tombstone-corrected df as a FRAME (no
    * driver action): the table's own [[correctedDict]] at S = 1, else
    * the shard dictionaries summed per term. */
  private def familyDict(spark: SparkSession, tables: Seq[String],
                         qterms: Option[Seq[String]]): DataFrame =
    if (tables.size == 1) correctedDict(spark, tables.head, qterms)
    else {
      GraftFunctions.unionGuard(spark)
      tables.map(correctedDict(spark, _, qterms)).reduce(_.unionByName(_))
        .groupBy("term").agg(sum("df").as("df")).filter(col("df") > 0)
    }

  /** Heal a crashed tombstone fold before serving (see
    * [[bm25FoldTombstones]]'s crash-window note): an abandoned foldlock
    * means the derived tables may already exclude deleted docs —
    * combining them with the query-time correction would
    * double-subtract. Completing the idempotent fold restores the
    * consistent (and faster) state.
    */
  private def healFold(spark: SparkSession, table: String): Unit =
    if (tableExists(spark, s"${table}_foldlock"))
      bm25FoldTombstones(spark, table)

  private def requirePositional(spark: SparkSession, tables: Seq[String],
                                caller: String): Unit =
    tables.foreach(t => require(tableExists(spark, s"${t}_pos"),
      s"$caller: $t has no positional table — build the index with " +
        "positions = true"))

  /** The query batch's distinct terms as literals for scan pruning, or
    * None past `maxPushTerms` (adversarially huge batches fall back to
    * the full-scan plan). The index tables are bucketed AND sorted by
    * term, so the pushed filter ([[prunedByValues]]: per-value IN up to
    * [[maxInPushValues]] = 256 values, the same `isin` with only its
    * min/max range pushed + post-scan InSet above — the measured
    * stack-safety split) lets parquet skip every row group whose term
    * range misses the batch — serving cost then tracks the query terms'
    * posting lists instead of the index scan. The collect is a bounded
    * control value (≤ maxPushTerms + 1 rows), the mf1 point-lookup
    * discipline. The per-value regime needs the threshold raise of
    * [[raiseInFilterThreshold]], which the serving entry has made.
    */
  private def pushableTerms(spark: SparkSession, qt: DataFrame,
                            maxPushTerms: Int = 1 << 12)
      : Option[Seq[String]] = {
    val terms = qt.select("term").distinct().limit(maxPushTerms + 1)
      .collect().map(_.getString(0)).toSeq
    if (terms.size > maxPushTerms) None else Some(terms)
  }

  /** Monotone raise of `spark.sql.parquet.pushdown.inFilterThreshold`
    * to `target` — a SESSION-WIDE side effect, by design, made ONCE in
    * the prologue of every entry whose plans carry [[prunedByValues]]/
    * [[prunedByDocs]]/[[partialsWith]] pushes, on the CALLER thread
    * before any [[fanOut]] (the helpers themselves change no conf, so
    * worker threads never write the session). The raise is NOT
    * restored: the pushed lists land in a plan the caller executes
    * later (lazily), and parquet reads the threshold when the scan
    * executes, so the raise must outlive the call. It is monotone (only
    * ever raises, never lowers, so repeated/concurrent callers
    * compose), affects plan SHAPE only, and the entries raise to
    * EXACTLY [[maxInPushValues]]: Spark pushes per-value when a list
    * has ≤ threshold values, so a 257-value list keeps the range-only
    * regime. Never raise it further: deeper per-value IN lists overflow
    * the executor stack inside parquet-mr (DevPushProbe; the round-15
    * LM incident). */
  private[operators] def raiseInFilterThreshold(spark: SparkSession,
                                                target: Int): Unit = {
    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    if (spark.conf.getOption(key).map(_.toInt).getOrElse(10) < target)
      spark.conf.set(key, target.toString)
  }

  /** MEASURED parquet per-value IN depth limit (DevPushProbe + in-vivo,
    * this Spark/parquet build): a pushed `In` becomes a recursively-
    * nested OR tree in parquet-mr whose evaluation overflows the
    * executor stack. The synthetic probe passes 1024 values and dies at
    * 2048 — but 1024 ALSO died in vivo (DevLm round 15: the same
    * predicate under deeper whole-stage-codegen shuffle-task stacks),
    * so the cliff is stack-geometry-sensitive and the cap carries 4×
    * margin under the in-vivo failure. Term lists above it split into
    * [[prunedByValues]]' chunked scans. (Found round 15: the LM batch
    * pushdown hit the wall at ~3k terms; the BM25 family's 4096-value
    * collect cap had sat above the cliff since round 12 without a
    * measured batch ever crossing a few hundred.)
    */
  private[operators] val maxInPushValues = 256

  /** Bounded control-read cap of [[posFamily]]'s control read: a
    * positional control plane reads at most this many (qid, term, df)
    * rows per shard; batches past it fall back to frame-only plans. The
    * `graft.maxControlRows` system property exists for TESTS and dev
    * probes only (forcing the overflow routes at toy batch sizes); the
    * production default is the measured 2^13. */
  private def maxControlRows: Int = sys.props.get("graft.maxControlRows")
    .map(_.toInt).getOrElse(1 << 13)

  /** How far past [[maxControlRows]] the MaxScore entries still serve
    * ENGAGED by chunking the batch per qid (round 21, VERDICT r20 ask
    * #2 — the exact-fallback cliff): an over-cap batch's control rows
    * collect up to factor × maxControlRows (≤ 64k tiny (qid, term, df)
    * rows, a few MB of driver memory — control-plane sized), then the
    * qids greedily pack into ≤ maxControlRows-row chunks and each
    * chunk runs the verbatim two-pass machinery. Per-query results are
    * independent of batching (each query's ranking reads only its own
    * terms and the index), so the chunked union is bit-identical to
    * the one-shot plan — only the cost model changes: measured at 1e6
    * (DevMsJobs overcap arm), the pre-round-21 routing paid the ~22×
    * exact cliff the moment control rows crossed 2^13. */
  private val msOverflowFactor = 8

  /** Greedy per-qid packing of collected control rows into chunks of
    * ≤ `cap` rows, first-appearance qid order (queries never split).
    * Returns (chunks, exact-routed rows) — a single qid whose own row
    * count exceeds `cap` routes to the exact leg, the same contract
    * its un-chunked overflow had. */
  private def chunkRowsByQid(rows: Seq[org.apache.spark.sql.Row], cap: Int)
      : (Seq[Seq[org.apache.spark.sql.Row]],
         Seq[org.apache.spark.sql.Row]) = {
    val order = new java.util.LinkedHashMap[Any,
      scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]]()
    rows.foreach { r =>
      var b = order.get(r.get(0))
      if (b == null) {
        b = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
        order.put(r.get(0), b)
      }
      b += r
    }
    val chunks =
      scala.collection.mutable.ArrayBuffer[Seq[org.apache.spark.sql.Row]]()
    val cur =
      scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    val exactRows =
      scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    order.values.forEach { qrs =>
      if (qrs.length > cap) exactRows ++= qrs
      else {
        if (cur.length + qrs.length > cap) {
          chunks += cur.toSeq; cur.clear()
        }
        cur ++= qrs
      }
    }
    if (cur.nonEmpty) chunks += cur.toSeq
    (chunks.toSeq, exactRows.toSeq)
  }

  /** Run `body` over `items` on up to `threads` daemon threads (guide
    * §2.6 — each item's control plane does its own eager bounded
    * collects; overlapping them back-fills the executor tail) and
    * return the results in item order; a single item runs inline.
    * FAIL-FAST: every worker tags its Spark jobs with one per-call job
    * tag (`addJobTag` — the caller's job group and other local
    * properties are inherited untouched, so outside job attribution
    * still sees the work), and the first failed item cancels the
    * siblings' jobs (`cancelJobsWithTag`) and interrupts their threads
    * (`shutdownNow`), and waits for them to wind down, before its
    * exception is rethrown — so no sibling still writes once the call
    * has failed (a staging wave's caller heals right after). There is
    * no timeout: a bounded wait would be one more dial. */
  private[graft] def fanOut[A, B](spark: SparkSession, items: Seq[A],
                                  threads: Int)(body: A => B): Seq[B] =
    if (items.size <= 1) items.map(body)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future, Promise}
      val sc = spark.sparkContext
      val tag = s"graft-fanout-${java.util.UUID.randomUUID()}"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(threads, items.size), { (r: Runnable) =>
          val t = new Thread(r, "graft-fanout")
          t.setDaemon(true)
          t
        })
      val ec = ExecutionContext.fromExecutorService(pool)
      val futs = items.map(a => Future { sc.addJobTag(tag); body(a) }(ec))
      val done = Promise[Seq[B]]()
      locally {
        implicit val now: ExecutionContext = ExecutionContext.parasitic
        futs.foreach(_.failed.foreach(done.tryFailure))
        Future.sequence(futs).foreach(done.trySuccess)
      }
      try Await.result(done.future, scala.concurrent.duration.Duration.Inf)
      catch {
        case e: Throwable =>
          sc.cancelJobsWithTag(tag)
          pool.shutdownNow()
          pool.awaitTermination(Long.MaxValue,
            java.util.concurrent.TimeUnit.NANOSECONDS)
          throw e
      } finally pool.shutdown()
    }

  /** Exact value-pruned scan at ANY list size — the stack-safe form of
    * the per-value parquet pushdown, two regimes:
    *  - ≤ [[maxInPushValues]] values: one scan with a pushed per-value
    *    IN — page-level skip on exact values (the sorted-by-term layout
    *    makes pages term-contiguous), the round-12 measured serving
    *    win. Query-shaped term lists live here.
    *  - above: one scan with the SAME `isin` but the pushdown threshold
    *    left below the list size, so parquet receives only the min/max
    *    range and the exact membership evaluates post-scan as an InSet
    *    hash probe. No per-value predicate tree ever forms (the
    *    stack-overflow cliff), the scan keeps its bucket partitioning
    *    (downstream folds stay zero-exchange), and the aggregate runs
    *    on the pruned, batch-proportional rows — the scan itself is the
    *    only index-sized cost. Two alternatives were MEASURED WORSE on
    *    zipf vocabularies (BASELINE.md round-15): a pushed range-OR +
    *    InSet (scattered terms make the ranges cover the whole
    *    vocabulary — nothing skips, every row pays the OR chain) and a
    *    union of ≤cap-value chunk scans (page skip is nil once terms
    *    outnumber pages, and per-scan setup × chunks dominates).
    */
  private[operators] def prunedByValues(df: DataFrame, colName: String,
                                        values: Seq[String]): DataFrame = {
    if (values.isEmpty) df.filter(lit(false))
    else {
      df.filter(col(colName).isin(values: _*))
    }
  }

  private def pruneToTerms(df: DataFrame,
                           terms: Option[Seq[String]]): DataFrame =
    terms.map(ts => prunedByValues(df, "term", ts)).getOrElse(df)

  /** Bounded ranked-frame literal re-injection (round 21, guide
    * §1.2/§2.4): a top-k frame is ≤ k·|queries| rows by construction,
    * yet as a LAZY plan every consumer (the output spine, the
    * ranked-docs broadcast gating a span pass) re-executes the entire
    * ranking subtree — the t28 plan carried the full t21 ranking
    * TWICE. Collect it once (hard-bounded; an over-cap frame keeps the
    * lazy plan) and every consumer reads a local relation instead.
    * Row-identical: the ranking output is deterministic, and under the
    * cap the limit collects the complete row set. */
  private def literalizeBounded(spark: SparkSession, df: DataFrame)
      : (DataFrame, Option[Array[org.apache.spark.sql.Row]]) = {
    val cap = maxControlRows * msOverflowFactor
    val rows = df.limit(cap + 1).collect()
    if (rows.length > cap) (df, None)
    else (spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*),
      df.schema), Some(rows))
  }

  /** Candidate-doc pushdown for the (term, doc_id)-sorted positional
    * layout (round 21, guide §6): given the MATERIALIZED candidate ids,
    * narrow the positional scan so parquet's column index can skip
    * pages that contain no candidate — the t49 page-skip idea applied
    * to position lists. Three regimes, all COST-ONLY (the caller's
    * candidate semi-join downstream enforces exact membership, so any
    * SUPERSET filter here is correct):
    *  - ≤ [[maxInPushValues]] ids: a pushed per-value `doc_id IN`
    *    (exact, page-skippable);
    *  - above, integral ids: the sorted ids gap-merge (gap ≤ the
    *    block-max width 4096) into closed ranges; when the merged
    *    ranges are few (≤ 128 — half the measured pushed-predicate
    *    depth cap) AND genuinely selective (covered width ≤ half the
    *    CORPUS doc count `corpusN` — the [[partialsWith]] blk-push
    *    sparsity gate's analog; a near-corpus cover would fail every
    *    page's stats check while taxing every row), push the
    *    OR-of-ranges. The clustered-candidate case this exists for is
    *    a query batch over a recent APPEND (fresh-docs RAG): its
    *    candidates sit in one contiguous id run at the corpus tail,
    *    one pushed range skips every base page. Scattered candidate
    *    sets fail the gates and skip the push — the round-15 lesson
    *    that an unselective range-OR is pure overhead. `corpusN ≤ 0`
    *    = unknown corpus size: per-value only;
    *  - otherwise: unchanged scan (semi-join gating only).
    */
  private[operators] def prunedByDocs(df: DataFrame, vals: Seq[Any],
                           corpusN: Long): DataFrame = {
    if (vals.isEmpty) return df.filter(lit(false))
    if (vals.size <= maxInPushValues)
      return df.filter(col("doc_id").isin(vals: _*))
    val longs = vals.flatMap {
      case l: java.lang.Long => Some(l.longValue())
      case i: java.lang.Integer => Some(i.longValue())
      case _ => None
    }
    if (longs.size != vals.size) return df // non-integral ids: no push
    val sorted = longs.sorted
    val maxRanges = 128
    val gap = 4096L
    val ranges = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var lo = sorted.head; var hi = sorted.head
    var i = 1
    while (i < sorted.length) {
      val v = sorted(i)
      if (v - hi <= gap) hi = v
      else {
        ranges += ((lo, hi)); lo = v; hi = v
        // one more (final) range is still coming — bail as soon as the
        // budget cannot hold it: a PARTIAL range cover would silently
        // DROP candidates, so the push is all-ranges-or-nothing
        if (ranges.length >= maxRanges) return df
      }
      i += 1
    }
    ranges += ((lo, hi))
    if (corpusN <= 0) return df
    val width = ranges.iterator.map(r => r._2 - r._1 + 1).sum
    if (width * 2 <= corpusN)
      df.filter(ranges.iterator.map { case (l, h) =>
        col("doc_id") >= lit(l) && col("doc_id") <= lit(h)
      }.reduce(_ || _))
    else df
  }

  /** Spark's string ordering (UTF8String: unsigned UTF-8 byte
    * lexicographic) replicated driver-side, so locally-derived
    * tie-breaks match what an `orderBy(col(...))` plan picks — Scala's
    * String ordering compares UTF-16 code units, which diverges for
    * supplementary-plane characters (round 21, ADVICE). */
  private val utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(ab.length, bb.length)
      var i = 0
      while (i < n) {
        val c = (ab(i) & 0xff) - (bb(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      ab.length - bb.length
    }
  }

  /** (df, term) ordering for local rarest-term derivation — the term
    * tie-break is [[utf8Ordering]] to match the uncollected fallback's
    * `orderBy(col("df"), col("term"))`. */
  private val dfTermOrdering: Ordering[(Long, String)] =
    Ordering.Tuple2(Ordering.Long, utf8Ordering)

  /** Deletion support shared by the stats/dict derivations: when a
    * tombstone set exists, df/N/avgdl are corrected at QUERY time from
    * `postings ∩ tombstones` (one extra broadcast semi-join scan of the
    * term-bucketed postings; the df correction aggregate is
    * term-bucketed too, so the dictionary join stays exchange-free) and
    * the scoring join reads the anti-joined postings. Deriving
    * everything from the id set alone is what makes bm25Delete
    * crash-correct: there are no stored negative deltas to land or
    * lose — bm25FoldTombstones restores the zero-extra-scan fast path.
    */
  private def deletedRows(spark: SparkSession,
                          table: String): Option[DataFrame] =
    Tombstones.idSet(spark, table).map(ts =>
      spark.table(table).join(broadcast(ts),
        col("doc_id") === col("id")).drop("id"))

  /** The index's tombstone-corrected corpus stats (N docs, Σ dl) as a
    * ONE-ROW FRAME — the control-plane fusion unit (round 20, guide
    * §2.4/§5: every separate bounded driver read is a full Spark job of
    * ~0.3-0.5 s fixed latency at the 1e7 decade, the measured dominant
    * serving cost). Callers `crossJoin` this frame onto whatever
    * bounded control frame they were collecting anyway, so the stats
    * ride along in the SAME job. The tombstone correction folds in as
    * a sign-tagged union (the [[familyStats]] discipline) instead
    * of a second driver action.
    */
  private def correctedStatsFrame(spark: SparkSession,
                                  table: String): DataFrame = {
    val base = spark.table(s"${table}_stats")
      .agg(coalesce(sum("n_docs"), lit(0L)).as("n"),
        coalesce(sum("dl_sum"), lit(0L)).as("s"))
      .select(lit(1L).as("_sign"), col("n"), col("s"))
    val signed = deletedRows(spark, table) match {
      case Some(del) => base.unionByName(
        del.select("doc_id", "dl").distinct()
          .agg(count(lit(1)).as("n"),
            coalesce(sum("dl"), lit(0L)).as("s"))
          .select(lit(-1L).as("_sign"), col("n"), col("s")))
      case None => base
    }
    signed.select((col("_sign") * col("n")).as("n"),
        (col("_sign") * col("s")).as("s"))
      .agg(coalesce(sum("n"), lit(0L)).as("n"),
        coalesce(sum("s"), lit(0L)).as("s"))
  }

  /** The index's tombstone-corrected document frequencies, narrowed to
    * the pushed query terms (the `deleted` correction frame stays
    * UNFILTERED on the stats side because N/avgdl are corpus-level
    * facts; per-term df sums are term-local, so pruning the dictionary
    * scan is exact). */
  private def correctedDict(spark: SparkSession, table: String,
                            qterms: Option[Seq[String]]): DataFrame = {
    val dict0 = pruneToTerms(spark.table(s"${table}_terms"), qterms)
      .groupBy("term").agg(sum("df").as("df"))
    deletedRows(spark, table) match {
      case Some(del) =>
        val dcorr = del.groupBy("term").agg(count(lit(1)).as("ddf"))
        dict0.join(dcorr, Seq("term"), "left")
          .select(col("term"),
            (col("df") - coalesce(col("ddf"), lit(0L))).as("df"))
          .filter(col("df") > 0)
      case None => dict0
    }
  }

  /** The scoring tail with the corpus constants INJECTED — what lets
    * [[bm25ShardedQuery]]'s shards score against GLOBAL (N, avgdl, df)
    * while each shard scans only its own postings ([[Consts]]; a
    * single index passes its own table's constants).
    *
    * `docVals` + `blockW` engage the BLOCK-MAX SCAN SKIP (layout doc on
    * [[bm25Build]]): when the caller has the candidate ids driver-side
    * (`docVals` MUST be exactly `docFilter`'s id set) and the table
    * carries the blk-sorted layout, the candidate set reaches the
    * postings SCAN as a pushed predicate —
    *  - ≤ [[maxInPushValues]] ids: per-value `doc_id IN`, which
    *    REPLACES the semi-join outright (same set, page-skippable
    *    against the doc-sorted files);
    *  - else, candidate BLOCKS ≤ the cap: per-value `blk IN` (a strict
    *    superset of the candidates — coarser pages skip) UNDER the
    *    unchanged semi-join, which keeps exactness;
    *  - else: today's semi-join alone.
    * Every branch returns bit-identical rows; the dial is pure scan
    * cost. */
  private def partialsWith(spark: SparkSession, table: String,
                           qt: DataFrame, k1: Double, b: Double,
                           nDocs: Long, avgdl: Double, dict: DataFrame,
                           qterms: Option[Seq[String]],
                           docFilter: Option[DataFrame],
                           broadcastDocs: Boolean,
                           docVals: Option[Seq[Any]] = None,
                           blockW: Option[Long] = None): DataFrame = {
    val tfD = col("tf").cast("double")
    val dfD = col("df").cast("double")
    val dlD = col("dl").cast("double")
    val idf = log((lit(nDocs.toDouble) - dfD + lit(0.5))
      / (dfD + lit(0.5)) + lit(1.0))
    val w = tfD * lit(k1 + 1.0) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * dlD / lit(avgdl)))
    val postings0 = Tombstones.filterOut(spark, table,
      pruneToTerms(spark.table(table), qterms), "doc_id")
    val postings = docFilter match {
      case Some(docIds) =>
        def semi(base: DataFrame) = {
          val f = if (broadcastDocs) broadcast(docIds) else docIds
          base.join(f, Seq("doc_id"), "left_semi")
        }
        (docVals, blockW) match {
          case (Some(vals), Some(_)) if vals.isEmpty =>
            postings0.filter(lit(false)) // constant-folds away
          case (Some(vals), Some(_)) if vals.size <= maxInPushValues =>
            postings0.filter(col("doc_id").isin(vals: _*))
          case (Some(vals), Some(bw)) =>
            val blks = vals.map(blkOf(_, bw)).distinct
            // push the coarser blk IN only when it can actually SKIP:
            // candidate blocks covering most of the corpus's ~nDocs/bw
            // blocks fail every page's stats check without excluding
            // anything — pure predicate overhead (measured at 1e6,
            // round 19: 29 queries' candidates covered all 244 blocks)
            val totalBlks = math.max(1L, nDocs / math.max(1L, bw))
            if (blks.size <= maxInPushValues && blks.size * 2 <= totalBlks)
              semi(postings0.filter(col("blk").isin(blks: _*)))
            else semi(postings0)
          case _ => semi(postings0)
        }
      case None => postings0
    }
    // exact for any realistic score (score·1e6 ≪ 2^53), so ranking on
    // the double view of the long loses nothing
    qt.join(dict, Seq("term"))
      .join(postings, Seq("term"))
      .select(col("qid"), col("doc_id").as("nid"), col("term"),
        round(idf * w * lit(1000000.0)).cast("long").as("partial"))
  }

  /** Exact-phrase BM25 top-k over a POSITIONAL index ([[bm25Build]]
    * with `positions = true`): a document matches iff the query's
    * tokens occur CONSECUTIVELY, in order (the classic positional-
    * postings intersection), and matching docs rank by the standard
    * [[bm25Query]] score of the phrase's DISTINCT terms — same integer
    * micro-unit contract, same output schema (qid, doc_id, score_micro,
    * rnk). Queries with no tokens or no matching document emit nothing.
    * The one-index family of [[posFamily]], which carries the control
    * read and the exactness arguments.
    *
    * Plan: the phrase's (offset, term) pairs shuffle TO the
    * term-bucketed `<table>_pos` lists; each posting explodes to
    * candidate START positions (pos − offset) and a doc matches when
    * one start collects ALL the phrase's offsets. ONE bounded control
    * collect (the per-(qid, term) df frame) drives the whole control
    * plane: the pushed-term scan pruning, the rarest term per phrase,
    * and a COST GATE choosing between two exact plans. When the gate
    * engages, a RAREST-TERM candidate pass runs before anything
    * explodes (the classic phrase-intersection ordering, done
    * set-at-a-time): every match must contain each phrase term, so the
    * docs on the lowest-df term's posting list are a complete
    * candidate set, and every other term's position rows are DOC-GATED
    * down to that set — first a doc-level semi-join against the
    * distinct candidate ids (broadcast while the candidate bound
    * Σ_q min_t df(t) stays under `maxCandBroadcast`, shuffle semi-join
    * past it), then the per-qid (qid, doc) semi-join. The (qid,
    * doc_id, start) intersection shuffle is then bounded by the RAREST
    * term's postings even when the phrase carries df≈N head terms:
    * their position lists are cut to candidate docs BEFORE the explode
    * and the aggregate, which is what retires the round-12 superlinear
    * worst case (head-term position mass used to flow through both).
    * When the gate does NOT engage (small direct posting mass AND a
    * rarest term that barely prunes — the measured regime where the
    * semi-join overhead exceeds its saving), the intersection runs
    * directly on the pruned position scans, bit-identical results. A
    * phrase containing an unindexed term prunes to zero candidates
    * outright. Scoring reuses the [[bm25Query]] machinery with the
    * same candidate-doc gate on its postings (`docFilter`), then a
    * semi-join to the exactly-matched docs. Tombstoned docs leave
    * results immediately (the positional scan anti-joins the set like
    * every other consult). Stop-term DROPPING is deliberately not
    * offered — removing a phrase term changes which documents MATCH —
    * so results are bit-identical to the unpruned plan in every
    * regime; an all-head phrase still pays its rarest term's df, the
    * floor any positional intersection has.
    */
  /** `maxDfFrac` (default 1.0 = exact matching for every phrase): the
    * phrase analog of [[bm25Query]]'s stop-term dial, with a DIFFERENT
    * contract because phrase terms cannot be dropped. A phrase whose
    * rarest term's df is ≤ `maxDfFrac · N` is always EXACT — its
    * candidate set (the rarest term's postings) is complete, and the
    * dial changes nothing. A phrase whose EVERY term exceeds the cap
    * (an all-stop-word phrase — the measured worst case, where the
    * candidate set IS the corpus) gets TRUNCATED MATCHING: its
    * candidates are restricted to a deterministic uniform hash-sample
    * of ≈ `maxDfFrac · N` docs from the rarest term's postings, and
    * matches outside the sample are missed — ranked results are a
    * top-k over that sampled candidate set (scores of returned docs
    * are still exact). The truncation is deterministic (xxhash64 of
    * doc_id against a df-scaled threshold), so repeated queries return
    * the same subset; it exists for the same reason the bag-of-words
    * dial does — an all-head phrase otherwise forces an O(df≈N)
    * intersection per query, the one cost no exact positional
    * intersection can avoid. Pick the dial per workload: exact
    * (default) for correctness gates and offline audits, a 1e-2-ish
    * cap for interactive serving where an all-stop-word phrase should
    * degrade gracefully instead of scanning the corpus.
    */
  /** `gateMinPosMass`: the direct-vs-gated cost switch (see the COST
    * GATE comment in the body) — the total query-term posting mass
    * above which the rarest-term doc-gating engages. Both plans are
    * exact; gating wins at every measured material scale (443 vs 693
    * ms/q at 10⁶, 5.2 vs 7.9 s/q at 10⁷), so the default 2²² only
    * spares genuinely tiny batches the extra semi-join stages.
    */
  def bm25PhraseQuery(spark: SparkSession, table: String,
                      queries: DataFrame, qidCol: String, textCol: String,
                      k: Int, k1: Double = 1.2, b: Double = 0.75,
                      maxDfFrac: Double = 1.0,
                      maxCandBroadcast: Long = 4L << 20,
                      gateMinPosMass: Long = 1L << 22): DataFrame =
    posFamily(spark, Seq(table), queries, qidCol, textCol, "bm25PhraseQuery",
      None, k, k1, b, maxDfFrac, maxCandBroadcast, gateMinPosMass).ranked

  /** The phrase match set WITH its start offsets: (qid, doc_id, start,
    * qlen) — one row per aligned phrase occurrence in the gated probe
    * rows (`input`: one per (qid, doc, off, term) with the term's
    * delta-encoded positions). Membership ranks [[bm25PhraseQuery]];
    * [[bm25PhraseSnippets]] slices around min(start).
    */
  private def phraseAligned(input: DataFrame, qlen: DataFrame): DataFrame =
    input
      .select(col("qid"), col("doc_id"), col("off"),
        explode(GraftFunctions.deltaDec(col("positions"))).as("p"))
      .select(col("qid"), col("doc_id"),
        (col("p") - col("off")).as("start"), col("off"))
      .groupBy("qid", "doc_id", "start")
      .agg(count_distinct(col("off")).as("nhit"))
      .join(broadcast(qlen), Seq("qid"))
      .filter(col("nhit") === col("qlen"))
      .select(col("qid"), col("doc_id"), col("start"), col("qlen"))

  /** [[bm25PhraseQuery]] + passage extraction: the top-k ranked matches
    * carrying each document's FIRST aligned occurrence (`start`, the
    * 0-based token offset) and a token-window `snippet` — `context`
    * tokens before the match through `context` tokens after it — sliced
    * from `docs` (`docIdCol`, `docTextCol`: the corpus text, which the
    * index does not store). The serving feature a RAG pipeline reads:
    * ranked passages, not just doc ids.
    *
    * Plan shape: ranking is [[bm25PhraseQuery]] verbatim; the snippet
    * join touches `docs` AFTER top-k, so the text join is k·|queries|
    * rows against the corpus — a semi-join-sized probe, never a corpus
    * product. Output: (qid, doc_id, score_micro, rnk, start, snippet),
    * deterministic (start = min over occurrences; tokens re-joined
    * single-spaced by the shared tokenizer).
    */
  def bm25PhraseSnippets(spark: SparkSession, table: String,
                         queries: DataFrame, qidCol: String, textCol: String,
                         docs: DataFrame, docIdCol: String, docTextCol: String,
                         k: Int, context: Int = 3,
                         k1: Double = 1.2, b: Double = 0.75,
                         maxDfFrac: Double = 1.0,
                         maxCandBroadcast: Long = 4L << 20,
                         gateMinPosMass: Long = 1L << 22): DataFrame = {
    require(context >= 0, s"context must be non-negative, got $context")
    val served = posFamily(spark, Seq(table), queries, qidCol, textCol,
      "bm25PhraseSnippets", None, k, k1, b, maxDfFrac, maxCandBroadcast,
      gateMinPosMass)
    val ranked = served.ranked
    val firstStart = served.hits.head.groupBy("qid", "doc_id")
      .agg(min("start").as("start"), first("qlen").as("qlen"))
    val corpusToks = docs.select(col(docIdCol).as("doc_id"),
      toks(col(docTextCol)).as("_ws"))
    val from = greatest(col("start") - context, lit(0))
    ranked
      .join(firstStart, Seq("qid", "doc_id"))
      .join(corpusToks, Seq("doc_id"))
      .select(col("qid"), col("doc_id"), col("score_micro"), col("rnk"),
        col("start").cast("long").as("start"),
        concat_ws(" ", slice(col("_ws"), (from + 1).cast("int"),
          (col("start") - from + col("qlen") + lit(context)).cast("int")))
          .as("snippet"))
  }

  /** All-distinct-terms-within-a-window (NEAR/w) BM25 top-k over the
    * positional index ([[bm25Build]] with `positions = true`): a
    * document matches iff EVERY distinct query term occurs at least
    * once inside some window of `window` CONSECUTIVE token slots —
    * equivalently, some occurrence assignment has span
    * max(pos) − min(pos) < window — order-free, the classic NEAR
    * operator. Matching docs rank by the [[bm25Query]] score of the
    * query's distinct terms: same integer micro-unit contract and
    * output schema as [[bm25PhraseQuery]] (qid, doc_id, score_micro,
    * rnk). Phrase is the ordered, gap-free special case (offsets must
    * align at one start); NEAR relaxes both order and adjacency.
    *
    * Plan: the one-index family of [[posFamily]], sharing
    * [[bm25PhraseQuery]]'s ENTIRE control plane ([[posGatedProbe]]) —
    * one bounded control collect, pushed-term scan
    * pruning, rarest-term candidate doc-gating (broadcast/shuffle
    * semi-joins), the `maxDfFrac` truncation dial (same contract:
    * phrases whose rarest term is under the cap stay exact; all-head
    * queries get deterministic hash-sampled candidates), and the
    * `gateMinPosMass` cost gate. Only the positional match differs:
    * the gated probe rows group per (qid, doc) and the window cover is
    * evaluated set-at-a-time on the stored position arrays
    * ([[proximityMatched]] — no per-anchor row explosion, per-group
    * state bounded by the doc's own lists); duplicate query terms
    * collapse (proximity is a distinct-term predicate, unlike phrase
    * where each offset must align).
    */
  /** `maxPosMass`: the graceful-degradation budget for all-head
    * batches — a conservative upper bound (per-query candidate bound
    * min_t df(t), times avgdl: a doc's query-term positions cannot
    * exceed its length) on the gated POSITION MASS the window-cover
    * match must shuffle and scan, computed UP FRONT from the same
    * collected df frame the candidate gate uses. The bound is
    * window-INDEPENDENT because the grouped-array match is: each cover
    * check scans the candidate doc's position lists once regardless of
    * window width. When the batch's summed bound exceeds the budget,
    * the batch AUTO-ROUTES to the truncation dial at the largest
    * per-query candidate cap that fits — a LOUD warn names the batch,
    * the bound, and the effective cap. Queries whose rarest term is
    * under the effective cap remain EXACT (the maxDfFrac contract);
    * over-cap queries serve from deterministic hash-sampled
    * candidates. Calibration is MEASURED (BASELINE.md round-14): the
    * default 2³¹ keeps a 20-query all-head batch exact at 10⁶
    * (bound ≈ 3·10⁸, 378 ms/q) and routes it at 10⁷ (bound ≈
    * 2.2·10⁹, where forced-exact costs 2.8 s/q and the routed dial
    * 1.2 s/q). History: the round-13 slot-anchor plan materialized
    * window × this bound as literal rows and OOMed an 8 GiB heap at
    * 10⁷; the grouped match retired the heap wall, so the budget
    * governs cost, not survival — set Long.MaxValue to force exact
    * matching at any expense.
    */
  def bm25ProximityQuery(spark: SparkSession, table: String,
                         queries: DataFrame, qidCol: String,
                         textCol: String, k: Int, window: Int,
                         k1: Double = 1.2, b: Double = 0.75,
                         maxDfFrac: Double = 1.0,
                         maxCandBroadcast: Long = 4L << 20,
                         gateMinPosMass: Long = 1L << 22,
                         maxPosMass: Long = 1L << 31): DataFrame =
    posFamily(spark, Seq(table), queries, qidCol, textCol,
      "bm25ProximityQuery", Some(window), k, k1, b, maxDfFrac,
      maxCandBroadcast, gateMinPosMass, maxPosMass).ranked

  /** The NEAR match predicate, evaluated set-at-a-time on the STORED
    * position arrays: the gated probe rows (one per (qid, doc, term),
    * each carrying the term's delta-encoded position list) group per
    * (qid, doc) — a document qualifies when it carries ALL distinct
    * query terms AND some query-term occurrence `p` anchors a window
    * `[p, p + window − 1]` containing at least one occurrence of every
    * term (a cover window exists iff one anchored at its leftmost
    * occurrence does). Evaluating the cover as array predicates over
    * the grouped lists — instead of exploding every position into its
    * `window` anchor slots and aggregating (qid, doc, anchor) rows —
    * moves exactly the gated scan rows through the one shuffle and
    * holds per-group state bounded by the document's own position
    * lists: the window factor never materializes as rows, which is
    * both the serving-cost win (bench_near) and what retired the
    * anchor-mass OOM wall the round-13 slot-anchor plan hit at 10⁷
    * (BASELINE.md round-13 NEAR section). Per-group cover cost is
    * O(occurrences² · terms) in the worst case — bounded by document
    * length, the per-doc work every positional operator here already
    * accepts.
    */
  private def proximityMatched(anchorsInput: DataFrame, qlenD: DataFrame,
                               window: Int): DataFrame =
    anchorsInput
      .select(col("qid"), col("doc_id"),
        GraftFunctions.deltaDec(col("positions")).as("ps"))
      .groupBy("qid", "doc_id")
      .agg(collect_list(col("ps")).as("arrs"), count(lit(1)).as("nterm"))
      .join(broadcast(qlenD), Seq("qid"))
      .filter(col("nterm") === col("qlen"))
      .filter(exists(flatten(col("arrs")), p =>
        forall(col("arrs"), a =>
          exists(a, x => x >= p && x <= p + lit(window - 1)))))
      .select(col("qid"), col("doc_id").as("nid"))

  /** [[bm25ProximityQuery]] + passage extraction — the NEAR member of
    * the snippet family ([[bm25PhraseSnippets]] covers phrase matches,
    * [[bm25Snippets]] plain bag-of-words hits): each top-k match
    * carries the LEFTMOST COVER's start (the smallest query-term
    * occurrence position `p` such that the window `[p, p + window − 1]`
    * contains every distinct query term — a cover window exists iff one
    * anchored at its leftmost occurrence does, the same equivalence the
    * match predicate rests on) and a token-window `snippet` spanning
    * `context` tokens before the window through `context` after it,
    * sliced from `docs` (`docIdCol`/`docTextCol`: the corpus text,
    * which the index does not store).
    *
    * Plan shape: ranking is [[bm25ProximityQuery]] verbatim (same
    * control plane, same dials, same anchor budget); the cover-start
    * derivation touches ONLY the ranked docs — the positional scan is
    * semi-joined down to the k·|queries| result rows (broadcast)
    * BEFORE any occurrence explodes, so the span pass costs positions
    * of the query terms in the top-k docs, never corpus mass, and the
    * text join runs strictly after top-k. Output: (qid, doc_id,
    * score_micro, rnk, start, snippet), deterministic (min cover
    * start; tokens re-joined single-spaced by the shared tokenizer).
    */
  def bm25ProximitySnippets(spark: SparkSession, table: String,
                            queries: DataFrame, qidCol: String,
                            textCol: String, docs: DataFrame,
                            docIdCol: String, docTextCol: String,
                            k: Int, window: Int, context: Int = 3,
                            k1: Double = 1.2, b: Double = 0.75,
                            maxDfFrac: Double = 1.0,
                            maxCandBroadcast: Long = 4L << 20,
                            gateMinPosMass: Long = 1L << 22,
                            maxPosMass: Long = 1L << 31): DataFrame = {
    require(context >= 0, s"context must be non-negative, got $context")
    val served = posFamily(spark, Seq(table), queries, qidCol, textCol,
      "bm25ProximitySnippets", Some(window), k, k1, b, maxDfFrac,
      maxCandBroadcast, gateMinPosMass, maxPosMass)
    // round 21 (VERDICT r20 ask #4): the ranked frame is ≤ k·|queries|
    // rows, but as a lazy plan the FULL t21 ranking subtree executed
    // twice — once on the output spine and once inside the
    // broadcast(rankedDocs) build gating the cover pass (the measured
    // 96-Exchange t28 plan). Literal re-injection shares ONE scored
    // frame across both consumers, and the collected ids push into the
    // cover pass's positional scan ([[prunedByDocs]] — page-skip on
    // the (term, doc_id)-sorted round-21 layout).
    val (ranked, rankedRows) = literalizeBounded(spark, served.ranked)
    // leftmost cover, derived occurrence-anchored over ONLY the ranked
    // docs: every ranked doc has one (see the scaladoc equivalence), so
    // the inner joins below drop nothing
    val rankedDocs = ranked.select("qid", "doc_id").distinct()
    val posTerms = pruneToTerms(spark.table(s"${table}_pos"), served.qterms)
    val posSpan = Tombstones.filterOut(spark, table, rankedRows.fold(posTerms)(
      rs => prunedByDocs(posTerms, rs.map(_.get(1)).toSeq.distinct,
        served.nDocs)), "doc_id")
    val occ = served.probe
      .join(posSpan, Seq("term"))
      .join(broadcast(rankedDocs), Seq("qid", "doc_id"), "left_semi")
      .select(col("qid"), col("doc_id"), col("term"),
        explode(GraftFunctions.deltaDec(col("positions"))).as("p"))
    val covers = occ.select(col("qid"), col("doc_id"), col("p").as("ap"))
      .distinct()
      .join(occ, Seq("qid", "doc_id"))
      .filter(col("p") >= col("ap") &&
        col("p") <= col("ap") + lit(window - 1))
      .groupBy("qid", "doc_id", "ap")
      .agg(count_distinct(col("term")).as("nhit"))
    val firstStart = covers.join(broadcast(served.qlen), Seq("qid"))
      .filter(col("nhit") === col("qlen"))
      .groupBy("qid", "doc_id").agg(min("ap").as("start"))
    val corpusToks = docs.select(col(docIdCol).as("doc_id"),
      toks(col(docTextCol)).as("_ws"))
    val from = greatest(col("start") - context, lit(0))
    ranked
      .join(firstStart, Seq("qid", "doc_id"))
      .join(corpusToks, Seq("doc_id"))
      .select(col("qid"), col("doc_id"), col("score_micro"), col("rnk"),
        col("start").cast("long").as("start"),
        concat_ws(" ", slice(col("_ws"), (from + 1).cast("int"),
          (col("start") - from + lit(window + context)).cast("int")))
          .as("snippet"))
  }

  /** [[bm25Query]] + passage extraction for plain bag-of-words hits —
    * the snippet family's third member: each top-k document carries the
    * FIRST OCCURRENCE of its BEST-SCORING query term (the term with
    * the largest micro-rounded BM25 contribution for that (query, doc)
    * pair; ties break on term ascending) and a ±`context`-token window
    * around that occurrence, sliced from `docs`. Needs the positional
    * table (`bm25Build` with `positions = true`) for the occurrence
    * offsets.
    *
    * Plan shape: ranking is the one-index [[bm25Family]] and the
    * passages its [[attachBestTermSnippets]] pass, which reuses the
    * ranking's one bounded control collect. The text join runs
    * strictly after top-k. Output: (qid, doc_id, score_micro, rnk,
    * start, snippet).
    */
  def bm25Snippets(spark: SparkSession, table: String, queries: DataFrame,
                   qidCol: String, textCol: String, docs: DataFrame,
                   docIdCol: String, docTextCol: String, k: Int,
                   context: Int = 3, k1: Double = 1.2, b: Double = 0.75,
                   maxDfFrac: Double = 1.0): DataFrame = {
    require(context >= 0, s"context must be non-negative, got $context")
    val lex = bm25Family(spark, Seq(table), queries, qidCol, textCol, k, k1,
      b, maxDfFrac)
    attachBestTermSnippets(spark, "bm25Snippets", Seq(table), lex,
      lex.ranked, docs, docIdCol, docTextCol, context, k1, b, maxDfFrac)
  }

  /** The best-term passage pass behind [[bm25Snippets]] and the
    * [[Fusion]] hybrid passages, over the doc-disjoint family `tables`
    * (S ≥ 1) that served `lex`: given an ALREADY-RANKED frame carrying
    * (qid, doc_id, …payload columns…), attach `(start, snippet)` — the
    * first occurrence of that (query, doc)'s best-scoring query term
    * and the ±`context`-token window around it. LEFT-join semantics: a
    * ranked document containing NO query term (possible for a
    * vector-leg hybrid hit) keeps its row with null start/snippet — no
    * lexical passage exists, and dropping the hit would silently
    * unrank it.
    *
    * The argmax term must match the whole-index choice EXACTLY, so the
    * partials score against the family's (N, avgdl, df) from `lex`'s
    * control read (no read of its own), never per-shard stats; a doc's
    * positions live in its own shard, so the positional lookups union
    * per shard. Plan shape: the ranked frame collects once (bounded)
    * and every consumer reads the literal; per-term partials recompute
    * only for the broadcast-semi-joined ranked docs, whose ids also
    * push into each positional scan ([[prunedByDocs]] against the
    * family N); the first occurrence reads the delta-encoded position
    * list's head (stored absolute — no decode); the corpus text join
    * runs strictly after ranking, k·|queries| rows against `docs`.
    */
  private[operators] def attachBestTermSnippets(
      spark: SparkSession, caller: String, tables: Seq[String],
      lex: BowServed, ranked: DataFrame, docs: DataFrame, docIdCol: String,
      docTextCol: String, context: Int, k1: Double, b: Double,
      maxDfFrac: Double): DataFrame = {
    requirePositional(spark, tables, caller)
    // round 21 (VERDICT r20 ask #4): one scored frame, many consumers —
    // as a lazy plan the ranking re-executed for the output spine and
    // for every shard leg's rankedDocs broadcast; the literal keeps the
    // pass O(S) total instead of O(S × ranking)
    val (rankedL, rankedRows) = literalizeBounded(spark, ranked)
    val rankedDocs = rankedL.select("doc_id").distinct()
    val c = consts(spark, tables, lex.qterms, maxDfFrac, lex.stats)
    val partials = tables.map(partialsWith(spark, _, lex.qt, k1, b, c.nDocs,
        c.avgdl, c.dict, lex.qterms, Some(rankedDocs), broadcastDocs = true))
      .reduce(_.unionByName(_))
    val docIdx = ranked.schema.fieldIndex("doc_id")
    val pos = tables.map { t =>
      val scan = pruneToTerms(spark.table(s"${t}_pos"), lex.qterms)
      Tombstones.filterOut(spark, t, rankedRows.fold(scan)(rs =>
        prunedByDocs(scan, rs.map(_.get(docIdx)).toSeq.distinct, c.nDocs)),
        "doc_id")
    }.reduce(_.unionByName(_))
    snippetsFromPartials(partials, pos, rankedL, docs, docIdCol,
      docTextCol, context)
  }

  /** Shared snippet tail: argmax term per (qid, ranked doc) from the
    * (qid, nid, term, partial) frame, first-occurrence start from the
    * positional rows, ±context token window sliced from the corpus
    * text — rows without a lexical occurrence keep null start/snippet
    * through the LEFT joins. */
  private def snippetsFromPartials(partials: DataFrame, pos: DataFrame,
                                   ranked: DataFrame, docs: DataFrame,
                                   docIdCol: String, docTextCol: String,
                                   context: Int): DataFrame = {
    val best = partials
      .join(ranked.select(col("qid"), col("doc_id").as("nid")),
        Seq("qid", "nid"), "left_semi")
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("qid", "nid")
          .orderBy(col("partial").desc, col("term"))))
      .filter(col("_rn") === 1)
      .select(col("qid"), col("nid").as("doc_id"), col("term"))
    val firstStart = best
      .join(pos, Seq("term", "doc_id"))
      // delta-encoded positions store the first (minimum) offset
      // absolute at index 1 — the first occurrence without a decode
      .select(col("qid"), col("doc_id"),
        element_at(col("positions"), 1).cast("long").as("start"))
    val corpusToks = docs.select(col(docIdCol).as("doc_id"),
      toks(col(docTextCol)).as("_ws"))
    val from = greatest(col("start") - context, lit(0))
    val payload = ranked.columns.map(col)
    ranked
      .join(firstStart, Seq("qid", "doc_id"), "left")
      .join(corpusToks, Seq("doc_id"), "left")
      .select(payload :+ col("start") :+
        when(col("start").isNotNull && col("_ws").isNotNull,
          concat_ws(" ", slice(col("_ws"), (from + 1).cast("int"),
            (col("start") - from + lit(1 + context)).cast("int"))))
          .as("snippet"): _*)
  }

  /** What one positional serve hands back: the ranked top-k and, for
    * the snippet tails, the probe and per-query length frames, each
    * shard's match rows ((qid, doc_id, start, qlen) phrase occurrences,
    * or NEAR's (qid, nid)), the pushed terms and the family's
    * corrected N. */
  private final case class PosServed(ranked: DataFrame, probe: DataFrame,
                                     qlen: DataFrame, hits: Seq[DataFrame],
                                     qterms: Option[Seq[String]],
                                     nDocs: Long)

  /** THE positional serving core: all eight phrase/NEAR entries are thin
    * wrappers over it. `tables` is a family of S ≥ 1 positional
    * [[bm25Build]] indexes over a doc-disjoint partition of the corpus
    * (a single index is the one-shard family); `near` selects the match
    * (None = exact phrase, Some(w) = NEAR/w); `parallelism` selects how
    * the pass executes ([[Passes]]: one lazy plan, or eager shard groups
    * on [[fanOut]] threads).
    *
    * Control plane: ONE driver job ([[controlRead]], one leg per shard)
    * collects every shard's bounded raw (qid, term, df) rows with that
    * shard's tombstone-corrected (N, Σdl) crossJoined on — at S = 1 the
    * single-index fused read. The family stats are the sum of the shard
    * stats; the pushed terms are the family rows' distinct terms (None
    * past 4096 terms). Each shard's gated probe ([[posGatedProbe]]) then
    * derives its candidate plane from its own rows and stats, with no
    * further control read. Only a batch past the control cap pays one
    * more job, [[pushableTerms]], so its scans stay term-pruned.
    *
    * Exactness, three arguments:
    *
    *  1. THE MATCH IS DOC-LOCAL. Phrase alignment and the NEAR window
    *     cover read one document's position lists only, so a shard sees
    *     every occurrence of its own docs and the union of the shards'
    *     match sets is the whole-index match set. The candidate plane is
    *     a superset per shard whatever df it ranks terms by: every match
    *     carries each query term, the shard's rarest one included.
    *
    *  2. SCORING USES GLOBAL STATS. Every shard scores its postings
    *     against the family's (N, avgdl, df) — the [[bm25Family]]
    *     argument 1 — and a (qid, doc) sum never crosses shards, so the
    *     matched docs' scores are the whole-index values, bit for bit;
    *     the grouped merge is [[bm25Family]] argument 3.
    *
    *  3. BUDGETS ARE PER SHARD. The NEAR position-mass budget is
    *     `maxPosMass` divided over the S shards (`perShardBudget` keeps
    *     it whole per shard), checked against each shard's own
    *     candidate bound and avgdl; an over-budget shard routes to
    *     truncated matching on its own. Truncation is hash-sampled per
    *     doc, so "sharded ≡ whole" holds only while NO shard routes —
    *     and the `maxDfFrac` dial (shard N) is exact only at S = 1,
    *     which is why the sharded entries keep it off.
    */
  private def posFamily(spark: SparkSession, tables: Seq[String],
                        queries: DataFrame, qidCol: String, textCol: String,
                        caller: String, near: Option[Int], k: Int,
                        k1: Double, b: Double, maxDfFrac: Double,
                        maxCandBroadcast: Long, gateMinPosMass: Long,
                        maxPosMass: Long = Long.MaxValue,
                        perShardBudget: Boolean = false,
                        parallelism: Option[Int] = None): PosServed = {
    near.foreach { w =>
      require(w >= 1 && w <= 256, s"window must be in [1, 256], got $w")
      require(maxPosMass > 0, s"maxPosMass must be positive, got $maxPosMass")
    }
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0,
      s"maxDfFrac must be in (0, 1], got $maxDfFrac")
    val passes = Passes(tables.size, parallelism)
    GraftFunctions.ensureRegistered(spark)
    raiseInFilterThreshold(spark, maxInPushValues)
    tables.foreach(healFold(spark, _))
    requirePositional(spark, tables, caller)
    // phrase probes carry every token's offset; NEAR probes the
    // distinct terms (proximity is a distinct-term predicate)
    val probe = near match {
      case None => queries
        .select(col(qidCol).as("qid"), posexplode(toks(col(textCol))))
        .select(col("qid"), col("pos").as("off"), col("col").as("term"))
      case Some(_) => queries
        .select(col(qidCol).as("qid"), explode(toks(col(textCol))).as("term"))
        .distinct()
    }
    val qlen = probe.groupBy("qid").agg(count(lit(1)).as("qlen"))
    val qt = probe.select("qid", "term").distinct()
    val qdfs = tables.map(t => qt
      .join(spark.table(s"${t}_terms")
        .groupBy("term").agg(sum("df").as("df")), Seq("term"), "left")
      .select(col("qid"), col("term"), coalesce(col("df"), lit(0L)).as("df")))
    val read = controlRead(spark, tables.map(Seq(_)).zip(qdfs), maxControlRows)
    val rows = read.map(_._1.map(r => Row(r.get(0), r.get(1), r.get(2))))
    val collected = rows.forall(_.length <= maxControlRows)
    val qterms =
      if (collected) Some(rows.flatMap(_.map(_.getString(1))).distinct)
        .filter(_.size <= (1 << 12))
      else pushableTerms(spark, qt)
    val stats = Option.when(read.forall(_._2.isDefined))(
      read.map(_._2.get).reduce((x, y) => (x._1 + y._1, x._2 + y._2)))
    val c = consts(spark, tables, qterms, 1.0, stats)
    val shardMass = if (perShardBudget || maxPosMass == Long.MaxValue)
      maxPosMass else math.max(1L, maxPosMass / tables.size)
    val hits = new Array[DataFrame](tables.size) // filled by the pass
    val ranked = passes.rank(spark, k) { g =>
      val legs = g.map { i =>
        val (input, cand, bcast) = posGatedProbe(spark, tables(i), probe,
          qdfs(i), rows(i), qterms, read(i)._2.getOrElse((0L, 0L)),
          if (tables.size == 1) caller else s"$caller(shard=${tables(i)})",
          maxDfFrac, maxCandBroadcast, gateMinPosMass, near.getOrElse(0),
          shardMass)
        hits(i) = near.fold(phraseAligned(input, qlen))(
          proximityMatched(input, qlen, _))
        (if (near.isDefined) hits(i)
         else hits(i).select(col("qid"), col("doc_id").as("nid")).distinct(),
         cand, bcast)
      }
      sumParts(g.indices.map(j => partialsWith(spark, tables(g(j)), qt, k1,
          b, c.nDocs, c.avgdl, c.dict, qterms, legs(j)._2, legs(j)._3))
        .reduce(_.unionByName(_)))
        .join(legs.map(_._1).reduce(_.unionByName(_)), Seq("qid", "nid"),
          "left_semi")
    }
    PosServed(ranked, probe, qlen, hits.toSeq, qterms, c.nDocs)
  }

  /** One shard's gated positional probe (the plan notes live on the
    * [[bm25PhraseQuery]] scaladoc): from the shard's collected control
    * rows `rows` (its (qid, term, df) frame `qdf`, bounded at
    * [[maxControlRows]] + 1 — past the cap only the plan is used) and
    * its corrected (N, Σdl) `stats`, returns the probe joined to the
    * (tombstone-filtered, term-pruned, candidate-doc-gated) positional
    * scan, plus the candidate doc filter and broadcast decision the
    * caller threads into scoring. Everything the control plane needs —
    * the rarest term per query, the candidate bound Σ_q min_t df(t),
    * the posting mass Σ df, the truncation and NEAR budget caps —
    * derives from those arguments; the one driver action left is the
    * literal candidate collect (and, past the cap, the bound read). */
  private def posGatedProbe(spark: SparkSession, table: String,
                            probe: DataFrame, qdf: DataFrame,
                            rows: Array[Row], qterms: Option[Seq[String]],
                            stats: (Long, Long), caller: String,
                            maxDfFrac: Double, maxCandBroadcast: Long,
                            gateMinPosMass: Long, window: Int,
                            maxPosMass: Long)
      : (DataFrame, Option[DataFrame], Boolean) = {
    val collected = rows.length <= maxControlRows
    // dial facts are the shard's tombstone-CORRECTED stats on every
    // path, so truncation routing is path-independent; cost-only
    val (nDocsStat, dlSum) = stats
    val avgdlCeil = math.max(1L,
      if (nDocsStat > 0) (dlSum + nDocsStat - 1) / nDocsStat else 1L)
    val capDocs0: Long = if (maxDfFrac < 1.0)
      math.max(1L, (maxDfFrac * nDocsStat).toLong)
    else Long.MaxValue
    val perQid = rows.groupBy(_.get(0))
    val (candBound0, nQ): (Long, Long) =
      if (collected)
        (perQid.valuesIterator.map(rs =>
          math.min(rs.iterator.map(_.getLong(2)).min, capDocs0)).sum,
         perQid.size.toLong)
      else {
        val r = qdf.groupBy("qid").agg(min("df").as("mdf"))
          .agg(coalesce(sum(least(col("mdf"), lit(capDocs0))), lit(0L)),
            count(lit(1)))
          .head()
        (r.getLong(0), r.getLong(1))
      }
    // ---- NEAR position-mass budget (window > 0: the window-cover
    // match shuffles and scans the gated position lists — see the
    // maxPosMass scaladoc on bm25ProximityQuery). avgdl bounds one
    // candidate doc's query-term positions (they cannot exceed its
    // length) and the grouped match's cost is window-independent, so
    // the batch fits iff candBound · avgdl ≤ maxPosMass. Over-budget
    // batches AUTO-ROUTE to the truncation dial at the largest
    // per-query cap that fits — loudly, and queries whose rarest term
    // is under the cap stay exact.
    val (capDocs, candBound) =
      if (window > 0 && maxPosMass != Long.MaxValue && nQ > 0) {
        val perDocPos = math.max(1L, avgdlCeil)
        val budgetDocs = maxPosMass / perDocPos
        if (candBound0 > budgetDocs) {
          val capEff = math.min(capDocs0, math.max(1L, budgetDocs / nQ))
          val cb = if (collected)
            perQid.valuesIterator.map(rs =>
              math.min(rs.iterator.map(_.getLong(2)).min, capEff)).sum
          else math.min(candBound0, nQ * capEff)
          logger.warn(s"$caller: position-mass bound ($candBound0 " +
            s"candidate docs x $perDocPos positions/doc) exceeds " +
            s"maxPosMass=$maxPosMass; auto-routing the $nQ-query batch " +
            s"to truncated matching at $capEff candidate docs/query " +
            "(queries whose rarest term is under the cap stay exact; " +
            "raise maxPosMass to force exact matching)")
          (capEff, cb)
        } else (capDocs0, candBound0)
      } else (capDocs0, candBound0)
    val totalBound: Long =
      if (collected) rows.iterator.map(_.getLong(2)).sum
      else Long.MaxValue
    // ---- COST GATE on the rarest-term doc-gating. The gating plan
    // (doc-level + per-qid semi-joins bounding the intersection by the
    // rarest term's postings) and the direct plan (intersect every
    // term's position lists) are EXACT — this is a cost decision only.
    // Gate when: the truncation dial is engaged (truncation is defined
    // on the candidate set); the batch overflowed the control collect
    // (conservative at unknown scale); or the direct intersection's
    // posting mass passes `gateMinPosMass`. MEASURED (DevRetrieval
    // warm legs, both plans forced, all-head 3-token phrases): at 10⁶
    // docs (mass ≈ 3·10⁷) gated serves 443 vs direct 693 ms/q; at 10⁷
    // (mass ≈ 3·10⁸) gated 5.2 vs direct 7.9 s/q — gating wins
    // wherever the position mass is material, and the default 2²² only
    // routes genuinely tiny workloads (e.g. a 6·10³-doc index, mass
    // ≈ 10⁵, where the extra semi-join stages are the dominant cost)
    // around the candidate machinery.
    val useGate = capDocs != Long.MaxValue || !collected ||
      totalBound > gateMinPosMass
    val pos = Tombstones.filterOut(spark, table,
      pruneToTerms(spark.table(s"${table}_pos"), qterms), "doc_id")
    val bcast = candBound <= maxCandBroadcast
    val (startsInput, candFilter) =
      if (useGate) {
        // rarest-term candidates: df from the folded dictionary (raw df
        // is fine — candidates only need to be a SUPERSET of matches,
        // and the tombstone filter on `pos` keeps deleted docs out).
        // When the control rows are in hand, the rarest row per query
        // is DERIVED LOCALLY and re-injected as a literal frame
        // (round 20) — the plan-side form re-read the dictionary
        // aggregate and paid a window sort inside the candidate
        // subplan for rows the driver already holds; same rows by the
        // same (df, term) order.
        val rarestRows = Option.when(collected)(perQid.valuesIterator
          .map(_.minBy(r => (r.getLong(2), r.getString(1)))(dfTermOrdering))
          .toSeq)
        val rarest = rarestRows.fold(qdf.withColumn("rn",
            row_number().over(org.apache.spark.sql.expressions.Window
              .partitionBy("qid").orderBy(col("df"), col("term"))))
          .filter(col("rn") === 1).select("qid", "term", "df"))(rs =>
          spark.createDataFrame(java.util.Arrays.asList(rs: _*),
            StructType(qdf.schema)))
        // collected rarest terms prune the candidate-generation scan to
        // ONLY the rarest terms' row groups — without this the subplan
        // reads every query term's position list, head terms included,
        // just to derive the candidates it exists to bound
        val rarestTerms = rarestRows.map(_.map(_.getString(1)).distinct)
        val posRarest = Tombstones.filterOut(spark, table,
          pruneToTerms(spark.table(s"${table}_pos"),
            rarestTerms.orElse(qterms)), "doc_id")
        val cand0 = rarest.join(posRarest, Seq("term"))
          .select(col("qid"), col("doc_id"), col("df"))
        // truncated matching for over-cap phrases (see the maxDfFrac
        // doc): a deterministic per-doc hash sample at rate capDocs/df —
        // map-only, no shuffle; under-cap phrases pass untouched
        val sampleDen = 1L << 20
        val cand = (if (capDocs == Long.MaxValue) cand0
          else cand0.filter(col("df") <= lit(capDocs) ||
            pmod(xxhash64(col("doc_id")), lit(sampleDen)).cast("double") <
              lit((sampleDen * capDocs).toDouble) / col("df").cast("double")))
          .select("qid", "doc_id")
        if (bcast && collected &&
            candBound <= maxControlRows.toLong * msOverflowFactor) {
          // ---- FUSED CANDIDATE PLANE (round 21, guide §1.2/§2.4/§5 —
          // the MaxScore pass-1 fusion applied to the positional
          // family): under the CONTROL-PLANE bound (≤ 64k rows — a
          // literal relation is re-serialized into every consumer's
          // plan, so unlike a distributed broadcast it must stay
          // Catalyst-sized; the first unbounded cut of this change
          // OOMed the 1e6 natural batch, whose all-head queries carry
          // ~1e6-row candidate sets) the (qid, doc_id) candidate rows
          // were going to be pulled to the driver anyway, TWICE, as
          // broadcast builds (the doc-level and the per-qid
          // semi-join), and a THIRD time for the scoring stage's
          // docFilter — each a separate execution of the rarest-term
          // subplan. Materialize them ONCE and re-inject as literal
          // frames: every consumer broadcasts a local relation instead
          // of re-running the scan, and the distinct ids PUSH into the
          // (term, doc_id)-sorted positional scan ([[prunedByDocs]] —
          // per-value or gap-merged ranges, page-skip on the round-21
          // layout). Batches past the bound keep the lazy broadcast
          // flow below, unchanged from round 20. Row-identical: the
          // sample filter is a deterministic xxhash test, so collected
          // rows == plan rows.
          val candRows = cand.collect()
          val docF = StructField("doc_id", cand.schema("doc_id").dataType,
            cand.schema("doc_id").nullable)
          val candVals: Seq[Any] = candRows.map(_.get(1)).toSeq.distinct
          val candDocsF = idFrame(spark, candVals, docF)
          val candF = spark.createDataFrame(
            java.util.Arrays.asList(candRows.toSeq: _*), cand.schema)
          val posCand = prunedByDocs(pos, candVals, nDocsStat)
            .join(broadcast(candDocsF), Seq("doc_id"), "left_semi")
          (probe.join(posCand, Seq("term"))
            .join(broadcast(candF), Seq("qid", "doc_id"), "left_semi"),
            Some(candDocsF))
        } else {
          val candDocs = cand.select("doc_id").distinct()
          val posCand = pos.join(if (bcast) broadcast(candDocs) else candDocs,
            Seq("doc_id"), "left_semi")
          (probe.join(posCand, Seq("term"))
            .join(if (bcast) broadcast(cand) else cand,
              Seq("qid", "doc_id"), "left_semi"),
            Some(candDocs))
        }
      } else (probe.join(pos, Seq("term")), None)
    (startsInput, candFilter, bcast)
  }

  /** Grow one BM25 shard into two doc-disjoint children under the
    * hierarchical router ([[Sharding.staysInFirstChild]] — splitting
    * shard `shardIndex` of an `nShards`-family puts each doc at index
    * `shardIndex` or `shardIndex + nShards` of the doubled family) and
    * retire the parent, through the one reshard protocol and its crash
    * contract ([[Sharding]]). Cost is O(parent shard): the OTHER shards
    * never move, and splitting all S shards yields exactly the
    * canonical 2S family [[graft.streaming.RefreshLoop.shardOf]] routes
    * to. Serving the family with the parent replaced by the two
    * children is EXACTLY the pre-split ranking ([[bm25ShardedQuery]]
    * folds global stats regardless of which shard holds which doc —
    * gated at t40); any parent built from a doc-disjoint slice splits
    * correctly, router-routed or not. Tombstones fold first, so the
    * children are born tombstone-free; their layout is the parent's
    * ([[reshard]]).
    */
  def splitShard(spark: SparkSession, parent: String,
                 child0: String, child1: String,
                 shardIndex: Int = 0, nShards: Int = 1): Unit =
    splitShardImpl(spark, parent, child0, child1, shardIndex, nShards,
      failAt = -1)

  /** Crash injected by the reshard test seam ([[Sharding]]'s
    * boundaries, reached through every family's `…Impl` twin). */
  private[graft] final class InjectedSplitCrash(val at: Int)
    extends RuntimeException(s"injected split crash after boundary $at")

  /** [[splitShard]] with the [[InjectedSplitCrash]] seam. */
  private[graft] def splitShardImpl(spark: SparkSession, parent: String,
                                    child0: String, child1: String,
                                    shardIndex: Int, nShards: Int,
                                    failAt: Int): Unit =
    Sharding.split(spark, reshard, parent, child0, child1, shardIndex,
      nShards, failAt)

  /** The inverse of [[splitShard]] — fold two doc-disjoint BM25 shards
    * into one (the SHRINK path: after takedowns leave a family's
    * shards underfull, merging halves the per-query leg count and the
    * open-file surface). Both parents' tombstones fold first; postings
    * and positions are the row UNIONS, the derived tables recompute
    * from the merged postings — doc-disjointness makes the union
    * exact, and serving over the family with the parents replaced by
    * the merged table is the identical ranking (global stats are
    * placement-blind; the t40 argument run backwards). A pair that
    * disagrees on positions is rejected loudly (a silently
    * positional-less merge would break phrase serving).
    */
  def mergeShards(spark: SparkSession, parent0: String, parent1: String,
                  merged: String): Unit =
    mergeShardsImpl(spark, parent0, parent1, merged, failAt = -1)

  /** [[mergeShards]] with the [[InjectedSplitCrash]] seam. */
  private[graft] def mergeShardsImpl(spark: SparkSession, parent0: String,
                                     parent1: String, merged: String,
                                     failAt: Int): Unit =
    Sharding.merge(spark, reshard, parent0, parent1, merged, failAt)

  /** The BM25 family's reshard layout. Postings and positions split by
    * doc and merge by union in their source's layout (blk-sorted
    * postings and doc-sorted positions keep their fine pages); the
    * dictionary and stats recompute from the written postings. A
    * block-max source keeps its layout — `_blkmax` recomputed from the
    * target's postings, `_blkmeta` carried over — when every source
    * shares one block width; otherwise (a merge of mixed layouts) the
    * target is the plain layout, `blk` dropped.
    */
  private[graft] object reshard extends Sharding.Family("", Seq(
      Sharding.Part("", "term", Sharding.Rows("doc_id")),
      Sharding.Part("_terms", "term"), Sharding.Part("_stats", "n_docs"),
      Sharding.Part("_pos", "term", Sharding.Rows("doc_id")),
      Sharding.Part("_blkmax", "term"), Sharding.Part("_blkmeta", "block_w"))) {
    override def prepare(spark: SparkSession, table: String): Unit =
      bm25FoldTombstones(spark, table)
    private def width(spark: SparkSession, parents: Seq[String]) =
      parents.map(blockMeta(spark, _)).distinct match {
        case Seq(w) => w
        case _ => None
      }
    override def rows(spark: SparkSession, parents: Seq[String],
                      df: DataFrame): DataFrame =
      if (width(spark, parents).isDefined) df else df.drop("blk")
    override def derive(spark: SparkSession, table: String,
                        parents: Seq[String], buckets: Int): Unit = {
      val p = spark.table(table)
      BucketedJoin.writeBucketed(dictOf(p), s"${table}_terms", "term",
        buckets)
      BucketedJoin.writeBucketed(statsOf(p), s"${table}_stats", "n_docs", 1)
      width(spark, parents).foreach { w =>
        BucketedJoin.writeBucketed(blkBounds(p), s"${table}_blkmax", "term",
          buckets)
        import spark.implicits._
        BucketedJoin.writeBucketed(Seq(w).toDF("block_w"),
          s"${table}_blkmeta", "block_w", 1)
      }
    }
  }
}
