package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Rank fusion for hybrid retrieval: combine a lexical (BM25) leg, a
  * vector (ANN) leg — or any number of ranked candidate lists — into
  * one ranking via reciprocal-rank fusion (RRF; Cormack & Clarke,
  * SIGIR'09: "Reciprocal rank fusion outperforms Condorcet and
  * individual rank learning methods"). RRF needs only RANKS, never
  * score calibration, which is what makes it the standard first fusion
  * for legs whose scores live on incomparable scales (BM25 log-idf sums
  * vs cosine in [-1, 1]).
  *
  * Reference lineage: the reference engine's retrieval surface is the
  * grep/index family (`hadoop-mapreduce-examples` Grep chains two jobs
  * and re-ranks by aggregate count — `examples/Grep.java:57-76`); it has
  * no multi-signal fusion. This operator is the composition layer a
  * training-data pipeline needs on top of the BM25
  * ([[graft.operators.Retrieval]]) and ANN ([[graft.operators.Similarity]],
  * [[graft.operators.ProductQuant]]) index families this engine already
  * serves: retrieval-for-RAG, dedup triage (lexical AND embedding
  * agreement), and decontamination review queues all consume fused lists.
  *
  * SCALE SHAPE: fusion itself is never the bottleneck — each leg is
  * already a bounded top-`kPerLeg` list, so the fused candidate mass is
  * ≤ legs · kPerLeg rows PER QUERY (tiny 24-byte rows), one hash
  * aggregate, no window sort (the ranking tail is the same bounded
  * [[graft.functions.TopKScoreAgg]] every top-k operator here uses).
  * The 100 TB story lives in the legs: the BM25 leg serves off the
  * term-bucketed pushed-scan index, the vector leg off IVF probes —
  * both measured sublinear (BASELINE.md round-12/13 serving curves).
  *
  * ONE HYBRID CORE. The four hybrid entries ([[hybridQuery]],
  * [[hybridShardedQuery]], [[hybridSnippets]], [[hybridShardedSnippets]])
  * are thin wrappers over one private core serving doc-disjoint
  * families of S ≥ 1 tables on both legs — a single index is the
  * one-shard family, the way a one-reducer job is not a separate code
  * path. The core runs:
  *  - the lexical leg: one [[Retrieval.bm25Family]] call (exact, or
  *    MaxScore at the `lexMaxScore` dials; `planPar` > 0 executes it in
  *    eager shard groups), top `kPerLeg` per query, `maxDfFrac` as its
  *    stop-term dial;
  *  - the vector leg: exactly one of a standing IVFPQ family
  *    ([[ProductQuant.ivfPqShardedQuery]] — the memory-budget path,
  *    `refineK` exact re-rank), a standing IVF family
  *    ([[Similarity.ivfShardedQuery]]) or brute-force corpus shards
  *    ([[Similarity.bruteForceShardedTopK]], exact), `probeFrac` to
  *    whichever ANN leg serves. Passing more than one source is
  *    rejected — a silent preference would mask a misconfiguration. At
  *    S = 1 [[Similarity.mergeShardTopK]] hands the one leg back
  *    unchanged, so the one-index plan is the single-index plan;
  *  - the fusion tail: [[rrf]] or [[linear]] over the two bounded
  *    `kPerLeg` lists (`kPerLeg` rows per query per leg is the whole
  *    fusion working set — RRF quality saturates at a few × k);
  *  - for the snippet entries, the passage pass
  *    ([[Retrieval.attachBestTermSnippets]]) over the fused top-k. It
  *    takes the query terms, pushed terms and family stats from the
  *    lexical leg's control read, so it reads none of its own, and it
  *    touches only the fused top-k docs: the corpus text joins strictly
  *    AFTER fusion, k·|queries| rows, never corpus mass.
  */
object Fusion {

  /** Weight validation shared by [[rrf]] and [[linear]]: positive, and
    * small enough that the fused integer-micro sum stays below 2^53 —
    * the bound under which the double round trip through
    * [[Similarity.rankTopK]] is exact. A candidate's maximum
    * contribution per leg is w·1e6 (rank-1 RRF is w·1e6/61 < w·1e6;
    * linear normalizes to ≤ 1.0 before the w·1e6 scale) plus the 0.5
    * half-up rounding slack, so Σ legs · (wᵢ·1e6) + legs/2 < 2^53
    * keeps every fused score integer-exact and the determinism
    * guarantee intact. A caller passing w ≳ 9e9 would otherwise
    * silently lose exactness.
    *
    * COMPATIBILITY NOTE (round 14): this check is a hard reject on the
    * public [[rrf]]/[[linear]] API — weight sets near 2^53 micros that
    * previously RAN (with silently inexact long→double ranking) now
    * throw IllegalArgumentException. The reject guards the determinism
    * contract; callers with astronomically large weights should rescale
    * (fusion is invariant to a common positive factor across legs).
    */
  private def requireWeights(ws: Seq[Double]): Unit = {
    ws.foreach(w => require(w > 0.0, s"leg weights must be positive, got $w"))
    val maxFused = ws.map(_ * 1e6).sum + ws.size / 2.0
    require(maxFused < (1L << 53).toDouble,
      f"fusion weights too large: max fused micro $maxFused%.3g " +
        "reaches 2^53, where long->double ranking loses integer exactness")
  }

  /** Reciprocal-rank fusion over ranked legs.
    *
    * Each leg is a DataFrame with columns `(qid, id, rank)` — a ranked
    * candidate list (rank 1 = best, one row per (qid, id); duplicate
    * (qid, id) rows within a leg are the CALLER's bug and would
    * double-count — every producer here ([[Retrieval.bm25Query]],
    * [[Similarity.bruteForceTopK]]/[[Similarity.ivfQuery]],
    * [[ProductQuant.ivfPqQuery]]) emits unique ranked rows) — paired
    * with its fusion weight.
    *
    * A candidate's fused score is Σ over the legs that retrieved it of
    * `w · 1e6 / (rrfK + rank)`, each contribution rounded half-up to an
    * integer micro BEFORE the sum: integer addition is order-independent,
    * so the fused score is bit-stable under any execution order (the
    * same determinism discipline as the micro-rounded BM25 scores).
    * Candidates missing from a leg simply get no contribution from it —
    * no outer-join NULL handling, the union-then-aggregate form.
    *
    * `rrfK` (default 60, the SIGIR'09 constant) damps the head: the
    * gap between rank 1 and 2 is ~1.6% of the rank-1 contribution, so
    * one leg's top hit cannot drown the other leg's consensus.
    *
    * Returns `(qid, id, fused_micro, rnk)`, top `k` per qid under
    * (fused_micro desc, id asc) — deterministic total order.
    */
  def rrf(legs: Seq[(DataFrame, Double)], k: Int, rrfK: Int = 60): DataFrame = {
    require(legs.nonEmpty, "rrf needs at least one leg")
    require(rrfK >= 0, s"rrfK must be non-negative, got $rrfK")
    fuse(legs, k) { (df, w) =>
      df.select(col("qid"), col("id"),
        floor(lit(w * 1e6) / (lit(rrfK).cast("double") + col("rank").cast("double"))
          + lit(0.5)).cast("long").as("c"))
    }
  }

  /** Weighted linear score fusion with per-(leg, qid) min-max
    * normalization — the other standard hybrid-fusion mode (score-aware
    * where [[rrf]] is rank-only: linear fusion preserves score GAPS, so
    * one leg's decisive margin can outvote the other's weak ordering).
    *
    * Each leg is `(qid, id, score)` (higher = better, any scale — BM25
    * micros and cosines fuse fine) paired with its weight. Scores
    * normalize per (leg, qid) to `(s - min) / (max - min)` over that
    * leg's RETRIEVED candidates; a degenerate leg (max = min for a qid)
    * normalizes to 1.0 — every candidate it retrieved is equally "its
    * best", and dropping it instead would silently erase the leg's
    * vote. Candidates a leg did not retrieve contribute 0 from it.
    * Each weighted normalized contribution rounds half-up to integer
    * micros BEFORE the cross-leg sum (order-independent integer adds —
    * the same determinism discipline as [[rrf]]).
    *
    * Returns `(qid, id, fused_micro, rnk)`, top `k` per qid under
    * (fused_micro desc, id asc).
    */
  def linear(legs: Seq[(DataFrame, Double)], k: Int): DataFrame = {
    require(legs.nonEmpty, "linear fusion needs at least one leg")
    fuse(legs, k) { (df, w) =>
      val ext = df.groupBy("qid")
        .agg(min(col("score").cast("double")).as("_mn"),
             max(col("score").cast("double")).as("_mx"))
      df.join(ext, "qid")
        .select(col("qid"), col("id"),
          floor(lit(w * 1e6) *
            when(col("_mx") === col("_mn"), lit(1.0))
              .otherwise((col("score").cast("double") - col("_mn")) /
                         (col("_mx") - col("_mn")))
            + lit(0.5)).cast("long").as("c"))
    }
  }

  /** The fusion tail shared by [[rrf]] and [[linear]]: each weighted
    * leg's per-(qid, id) integer-micro contribution `c`, summed across
    * legs and ranked top `k` per qid under (fused_micro desc, id asc).
    */
  private def fuse(legs: Seq[(DataFrame, Double)], k: Int)(
      contrib: (DataFrame, Double) => DataFrame): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    requireWeights(legs.map(_._2))
    graft.functions.GraftFunctions.ensureRegistered(legs.head._1.sparkSession)
    // round 21 (guide §2.4 "two operations keyed the same way share one
    // exchange"): partition the tiny union by qid ONCE — qid clustering
    // satisfies both the (qid, id) fused sum AND the downstream
    // rankTopK's per-qid aggregate, so the fusion tail pays one
    // exchange instead of two (the union is ≤ legs·kPerLeg rows/query;
    // map-side partial aggregation loses nothing because each (leg,
    // qid, id) contribution is already a single row).
    val fused = legs.map(contrib.tupled).reduce(_.unionByName(_))
      .repartition(col("qid"))
      .groupBy("qid", "id").agg(sum("c").as("fused"))
    // fused_micro < 2^53 (requireWeights), so the double round trip
    // through the shared bounded top-k aggregate is exact
    Similarity.rankTopK(
        fused.select(col("qid"), col("id").as("nid"),
          col("fused").cast("double").as("cos")), k)
      .select(col("qid"), col("nid").as("id"),
        col("cos").cast("long").as("fused_micro"), col("rank").as("rnk"))
  }

  /** Hybrid lexical+vector retrieval over a standing BM25 index and
    * one vector leg, fused with [[rrf]] (`mode = "rrf"`, default) or
    * [[linear]] (`mode = "linear"`): the one-index family of the hybrid
    * core (see the object doc). `queries` carries `qidCol` (integral
    * id), `textCol` (the lexical query string) and `vecCol` (the query
    * embedding). The vector leg is EXACTLY ONE of `pqIndex` (standing
    * IVFPQ, [[ProductQuant.ivfPqQuery]], `refineK` exact re-rank),
    * `vecIndex` (standing IVF, [[Similarity.ivfQuery]]) or `vecCorpus`
    * (exact brute force over its `embIdCol`/`embVecCol` columns);
    * `probeFrac` passes to whichever ANN leg serves. `lexMaxScore`
    * serves the lexical leg through the MaxScore plan at the given dials
    * (bit-identical fused output, EAGER control plane).
    */
  def hybridQuery(spark: SparkSession, bm25Table: String, queries: DataFrame,
                  qidCol: String, textCol: String, vecCol: String, k: Int,
                  kPerLeg: Int = 20, rrfK: Int = 60,
                  wLex: Double = 1.0, wVec: Double = 1.0,
                  vecIndex: Option[String] = None,
                  vecCorpus: Option[DataFrame] = None,
                  embIdCol: String = "vec_id", embVecCol: String = "embedding",
                  probeFrac: Double = 0.5,
                  maxDfFrac: Double = 1.0,
                  mode: String = "rrf",
                  pqIndex: Option[String] = None,
                  refineK: Int = 0,
                  lexMaxScore: Option[Retrieval.MaxScoreDials] = None)
      : DataFrame =
    hybrid(spark, "hybridQuery", OneIndexLegs, Seq(bm25Table), queries,
      qidCol, textCol, vecCol, k, kPerLeg, rrfK, wLex, wVec,
      pqIndex.map(Seq(_)), vecIndex.map(Seq(_)), vecCorpus.map(Seq(_)),
      embIdCol, embVecCol, probeFrac, maxDfFrac, mode, refineK, 0,
      lexMaxScore)

  /** [[hybridQuery]] over DOC-DISJOINT shard families on BOTH legs —
    * hybrid serving where neither the lexical index nor the vector
    * corpus fits one table (BASELINE.md measures one 10⁷-doc positional
    * BM25 shard at 5.85 GB, so 10⁸ docs shard or die). The vector leg
    * is EXACTLY ONE of `pqIndexes`, `vecIndexes` or `vecShards`; with
    * `vecShards` both legs are exact, so the fused rows are EXACTLY
    * [[hybridQuery]]'s on the union corpus (oracle-gated at t36).
    * `planPar` > 0 plans the lexical leg in ⌈S/planPar⌉ shard groups on
    * driver threads (EAGER); 0 keeps the lazy single plan; it composes
    * with `lexMaxScore`.
    */
  def hybridShardedQuery(spark: SparkSession, bm25Tables: Seq[String],
                         queries: DataFrame, qidCol: String,
                         textCol: String, vecCol: String, k: Int,
                         kPerLeg: Int = 20, rrfK: Int = 60,
                         wLex: Double = 1.0, wVec: Double = 1.0,
                         vecIndexes: Option[Seq[String]] = None,
                         vecShards: Option[Seq[DataFrame]] = None,
                         embIdCol: String = "vec_id",
                         embVecCol: String = "embedding",
                         probeFrac: Double = 0.5,
                         maxDfFrac: Double = 1.0,
                         mode: String = "rrf",
                         pqIndexes: Option[Seq[String]] = None,
                         refineK: Int = 0,
                         planPar: Int = 0,
                         lexMaxScore: Option[Retrieval.MaxScoreDials] = None)
      : DataFrame =
    hybrid(spark, "hybridShardedQuery", ShardedLegs, bm25Tables, queries,
      qidCol, textCol, vecCol, k, kPerLeg, rrfK, wLex, wVec, pqIndexes,
      vecIndexes, vecShards, embIdCol, embVecCol, probeFrac, maxDfFrac, mode,
      refineK, planPar, lexMaxScore)

  /** [[hybridQuery]] + passage extraction — what a RAG consumer
    * actually reads: each fused top-k hit carries the first occurrence
    * of its best-scoring lexical query term and the ±`context`-token
    * window around it, sliced from `docs` (`docIdCol`/`docTextCol`: the
    * corpus text, which no index stores). The index must be built with
    * `positions = true`. A hit retrieved by the vector leg alone may
    * contain no lexical query term: it keeps its fused rank with null
    * `start`/`snippet`. Output: (qid, id, fused_micro, rnk, start,
    * snippet).
    */
  def hybridSnippets(spark: SparkSession, bm25Table: String,
                     queries: DataFrame, qidCol: String, textCol: String,
                     vecCol: String, docs: DataFrame, docIdCol: String,
                     docTextCol: String, k: Int, context: Int = 3,
                     kPerLeg: Int = 20, rrfK: Int = 60,
                     wLex: Double = 1.0, wVec: Double = 1.0,
                     vecIndex: Option[String] = None,
                     vecCorpus: Option[DataFrame] = None,
                     embIdCol: String = "vec_id",
                     embVecCol: String = "embedding",
                     probeFrac: Double = 0.5,
                     maxDfFrac: Double = 1.0,
                     mode: String = "rrf",
                     pqIndex: Option[String] = None,
                     refineK: Int = 0,
                     lexMaxScore: Option[Retrieval.MaxScoreDials] = None)
      : DataFrame =
    hybrid(spark, "hybridSnippets", OneIndexLegs, Seq(bm25Table), queries,
      qidCol, textCol, vecCol, k, kPerLeg, rrfK, wLex, wVec,
      pqIndex.map(Seq(_)), vecIndex.map(Seq(_)), vecCorpus.map(Seq(_)),
      embIdCol, embVecCol, probeFrac, maxDfFrac, mode, refineK, 0,
      lexMaxScore, Some(Passages(docs, docIdCol, docTextCol, context)))

  /** [[hybridSnippets]] over doc-disjoint shard families on both legs:
    * [[hybridShardedQuery]]'s fusion plus the same passage pass, whose
    * argmax terms score against the family stats, so the passages are
    * exactly the whole-index choices. Same output schema as
    * [[hybridSnippets]].
    */
  def hybridShardedSnippets(spark: SparkSession, bm25Tables: Seq[String],
                            queries: DataFrame, qidCol: String,
                            textCol: String, vecCol: String,
                            docs: DataFrame, docIdCol: String,
                            docTextCol: String, k: Int, context: Int = 3,
                            kPerLeg: Int = 20, rrfK: Int = 60,
                            wLex: Double = 1.0, wVec: Double = 1.0,
                            vecIndexes: Option[Seq[String]] = None,
                            vecShards: Option[Seq[DataFrame]] = None,
                            embIdCol: String = "vec_id",
                            embVecCol: String = "embedding",
                            probeFrac: Double = 0.5,
                            maxDfFrac: Double = 1.0,
                            mode: String = "rrf",
                            pqIndexes: Option[Seq[String]] = None,
                            refineK: Int = 0,
                            planPar: Int = 0,
                            lexMaxScore: Option[Retrieval.MaxScoreDials] =
                              None): DataFrame =
    hybrid(spark, "hybridShardedSnippets", ShardedLegs, bm25Tables, queries,
      qidCol, textCol, vecCol, k, kPerLeg, rrfK, wLex, wVec, pqIndexes,
      vecIndexes, vecShards, embIdCol, embVecCol, probeFrac, maxDfFrac, mode,
      refineK, planPar, lexMaxScore,
      Some(Passages(docs, docIdCol, docTextCol, context)))

  private val OneIndexLegs = "pqIndex (standing IVFPQ), vecIndex " +
    "(standing IVF) or vecCorpus (brute-force)"
  private val ShardedLegs = "pqIndexes (standing IVFPQ shards), vecIndexes " +
    "(standing IVF shards) or vecShards (brute-force corpus shards)"

  /** The corpus text a hybrid call slices passages from. */
  private final case class Passages(docs: DataFrame, idCol: String,
                                    textCol: String, context: Int)

  /** THE hybrid core (see the object doc): `caller` names the entry in
    * errors and `legNames` its vector-leg arguments. */
  private def hybrid(spark: SparkSession, caller: String, legNames: String,
                     bm25Tables: Seq[String], queries: DataFrame,
                     qidCol: String, textCol: String, vecCol: String, k: Int,
                     kPerLeg: Int, rrfK: Int, wLex: Double, wVec: Double,
                     pq: Option[Seq[String]], ivf: Option[Seq[String]],
                     corpus: Option[Seq[DataFrame]], embIdCol: String,
                     embVecCol: String, probeFrac: Double, maxDfFrac: Double,
                     mode: String, refineK: Int, planPar: Int,
                     lexMaxScore: Option[Retrieval.MaxScoreDials],
                     passages: Option[Passages] = None): DataFrame = {
    passages.foreach(p => require(p.context >= 0,
      s"context must be non-negative, got ${p.context}"))
    require(bm25Tables.nonEmpty, s"$caller needs at least one BM25 shard")
    require(planPar >= 0, s"planPar must be >= 0, got $planPar")
    require(Seq(pq, ivf, corpus).count(_.nonEmpty) == 1,
      s"$caller needs EXACTLY ONE vector leg: $legNames — a silent " +
        "preference among several would mask a misconfiguration")
    require(mode == "rrf" || mode == "linear",
      s"""mode must be "rrf" or "linear", got "$mode"""")
    val lex = Retrieval.bm25Family(spark, bm25Tables, queries, qidCol,
      textCol, kPerLeg, maxDfFrac = maxDfFrac, maxScore = lexMaxScore,
      parallelism = Some(planPar).filter(_ > 0))
    val vec = ((pq, ivf) match {
      case (Some(ts), _) =>
        ProductQuant.ivfPqShardedQuery(spark, ts, queries, qidCol, vecCol,
          kPerLeg, probeFrac = probeFrac, refineK = refineK)
      case (None, Some(ts)) =>
        Similarity.ivfShardedQuery(spark, ts, queries, qidCol, vecCol,
          kPerLeg, probeFrac = probeFrac)
      case (None, None) =>
        Similarity.bruteForceShardedTopK(
          corpus.get.map(_.select(col(embIdCol).as("_vid"),
            col(embVecCol).as("_vv"))),
          queries.select(col(qidCol).as("_vid"), col(vecCol).as("_vv")),
          "_vid", "_vv", kPerLeg)
    }).select(col("qid"), col("nid").as("id"), col("rank"),
        col("cos").as("score"))
    val legs = Seq(lex.ranked.select(col("qid"), col("doc_id").as("id"),
        col("rnk").as("rank"), col("score_micro").cast("double").as("score"))
      -> wLex, vec -> wVec)
    val fused = if (mode == "linear") linear(legs, k) else rrf(legs, k, rrfK)
    passages.fold(fused) { p =>
      Retrieval.attachBestTermSnippets(spark, caller, bm25Tables, lex,
          fused.withColumnRenamed("id", "doc_id"), p.docs, p.idCol,
          p.textCol, p.context, k1 = 1.2, b = 0.75, maxDfFrac)
        .withColumnRenamed("doc_id", "id")
    }
  }
}
