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
    require(k > 0, s"k must be positive, got $k")
    require(rrfK >= 0, s"rrfK must be non-negative, got $rrfK")
    requireWeights(legs.map(_._2))
    graft.functions.GraftFunctions.ensureRegistered(legs.head._1.sparkSession)
    val contribs = legs.map { case (df, w) =>
      df.select(col("qid"), col("id"),
        floor(lit(w * 1e6) / (lit(rrfK).cast("double") + col("rank").cast("double"))
          + lit(0.5)).cast("long").as("c"))
    }.reduce(_.unionByName(_))
    // round 21 (guide §2.4 "two operations keyed the same way share one
    // exchange"): partition the tiny union by qid ONCE — qid clustering
    // satisfies both the (qid, id) fused sum AND the downstream
    // rankTopK's per-qid aggregate, so the fusion tail pays one
    // exchange instead of two (the union is ≤ legs·kPerLeg rows/query;
    // map-side partial aggregation loses nothing because each (leg,
    // qid, id) contribution is already a single row).
    val fused = contribs.repartition(col("qid"))
      .groupBy("qid", "id").agg(sum("c").as("fused"))
    // fused_micro < 2^53 for any sane legs/weights, so the double round
    // trip through the shared bounded top-k aggregate is exact
    Similarity.rankTopK(
        fused.select(col("qid"), col("id").as("nid"),
          col("fused").cast("double").as("cos")), k)
      .select(col("qid"), col("nid").as("id"),
        col("cos").cast("long").as("fused_micro"), col("rank").as("rnk"))
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
    require(k > 0, s"k must be positive, got $k")
    requireWeights(legs.map(_._2))
    graft.functions.GraftFunctions.ensureRegistered(legs.head._1.sparkSession)
    val contribs = legs.map { case (df, w) =>
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
    }.reduce(_.unionByName(_))
    // one qid-keyed exchange serves both tail aggregates (round 21 —
    // the rrf form's note)
    val fused = contribs.repartition(col("qid"))
      .groupBy("qid", "id").agg(sum("c").as("fused"))
    Similarity.rankTopK(
        fused.select(col("qid"), col("id").as("nid"),
          col("fused").cast("double").as("cos")), k)
      .select(col("qid"), col("nid").as("id"),
        col("cos").cast("long").as("fused_micro"), col("rank").as("rnk"))
  }

  /** Hybrid lexical+vector retrieval over a standing BM25 index and a
    * vector leg, fused with [[rrf]] (`mode = "rrf"`, default) or
    * [[linear]] (`mode = "linear"`).
    *
    * `queries` carries `qidCol` (integral id), `textCol` (the lexical
    * query string) and `vecCol` (the query embedding). The vector leg
    * is served from exactly ONE source (passing more than one — any
    * combination, standing index or corpus — is rejected: a silent
    * preference would mask a misconfiguration):
    * a standing IVFPQ index
    * when `pqIndex` is given ([[ProductQuant.ivfPqQuery]] — the 100 TB
    * memory-budget path: PQ codes are ~m·8/(dim·32) the raw vector
    * bytes, with `refineK` exact re-ranking on the raw vectors of the
    * quantized top candidates), else a standing IVF index when
    * `vecIndex` is given ([[Similarity.ivfQuery]], `probeFrac` dial —
    * the raw-vector at-scale path), else exact brute-force over
    * `vecCorpus` (`embIdCol`/`embVecCol` columns; the small-corpus /
    * oracle path). `kPerLeg` bounds each leg's candidate list (RRF
    * quality saturates at a few × k; kPerLeg rows per query per leg is
    * the entire fusion working set), `maxDfFrac` passes through to the
    * BM25 leg's stop-term dial, `probeFrac` to whichever ANN leg
    * serves.
    *
    * `lexMaxScore` routes the lexical leg through
    * [[Retrieval.bm25QueryMaxScore]] (the round-17 exact MaxScore
    * pruning) at the given dials — bit-identical fused output (the
    * pruned leg equals [[Retrieval.bm25Query]] by construction, gated
    * at t44/t46), but a query batch mixing rare and head terms stops
    * pushing the head terms' full posting lists through the scoring
    * leg that the round-17 adjudication named as the hybrid's dominant
    * lexical cost. EAGER when set (the MaxScore control plane collects
    * its bounded (qid, term, df) and threshold rows at call time, like
    * `planPar` on the sharded form); None keeps the lazy single-plan
    * composition.
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
      : DataFrame = {
    require(Seq(pqIndex, vecIndex, vecCorpus).count(_.nonEmpty) == 1,
      "hybridQuery needs EXACTLY ONE vector leg: pqIndex (standing " +
        "IVFPQ), vecIndex (standing IVF) or vecCorpus (brute-force) — " +
        "a silent preference among several would mask a misconfiguration")
    require(mode == "rrf" || mode == "linear",
      s"""mode must be "rrf" or "linear", got "$mode"""")
    val lex = (lexMaxScore match {
      case Some(dl) =>
        Retrieval.bm25QueryMaxScore(spark, bm25Table, queries, qidCol,
          textCol, kPerLeg, maxDfFrac = maxDfFrac,
          essentialDfFrac = dl.essentialDfFrac,
          maxCandBroadcast = dl.maxCandBroadcast,
          gateMinHeadMass = dl.gateMinHeadMass,
          gateCandFrac = dl.gateCandFrac)
      case None =>
        Retrieval.bm25Query(spark, bm25Table, queries, qidCol, textCol,
          kPerLeg, maxDfFrac = maxDfFrac)
    }).select(col("qid"), col("doc_id").as("id"), col("rnk").as("rank"),
        col("score_micro").cast("double").as("score"))
    val vec = ((pqIndex, vecIndex) match {
      case (Some(t), _) =>
        ProductQuant.ivfPqQuery(spark, t, queries, qidCol, vecCol, kPerLeg,
          probeFrac = probeFrac, refineK = refineK)
      case (None, Some(t)) =>
        Similarity.ivfQuery(spark, t, queries, qidCol, vecCol, kPerLeg,
          probeFrac = probeFrac)
      case (None, None) =>
        Similarity.bruteForceTopK(
          vecCorpus.get.select(col(embIdCol).as("_vid"), col(embVecCol).as("_vv")),
          queries.select(col(qidCol).as("_vid"), col(vecCol).as("_vv")),
          "_vid", "_vv", kPerLeg)
    }).select(col("qid"), col("nid").as("id"), col("rank"),
        col("cos").as("score"))
    if (mode == "linear") linear(Seq(lex -> wLex, vec -> wVec), k)
    else rrf(Seq(lex -> wLex, vec -> wVec), k, rrfK)
  }

  /** [[hybridQuery]] over DOC-DISJOINT shard indexes on BOTH legs —
    * hybrid serving at the scale where neither the lexical index nor
    * the vector corpus fits one table/box (the round-15 sharded layout
    * end-to-end: BASELINE.md measures one 10⁷-doc positional BM25 shard
    * at 5.85 GB, so 10⁸ docs shard or die). The lexical leg is
    * [[Retrieval.bm25ShardedQuery]] (global (N, avgdl, df) folded
    * across shard dictionaries — exactly the whole-index ranking); the
    * vector leg is exactly ONE of: sharded IVFPQ
    * ([[ProductQuant.ivfPqShardedQuery]], the memory-budget path),
    * sharded IVF ([[Similarity.ivfShardedQuery]], raw vectors), or
    * sharded brute force ([[Similarity.bruteForceShardedTopK]] over
    * `vecShards`, exact). Both legs hand fusion the same bounded
    * kPerLeg lists as the single-index form — since sharded BM25 is
    * exact and sharded brute force is exact, the fused result with
    * `vecShards` is EXACTLY [[hybridQuery]]'s on the union corpus
    * (oracle-gated at t36); the shard split shows up only in where the
    * legs' work runs. The fusion itself is the identical [[rrf]]/
    * [[linear]] tail: shard count never touches scores.
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
      : DataFrame = {
    require(bm25Tables.nonEmpty,
      "hybridShardedQuery needs at least one BM25 shard")
    require(planPar >= 0, s"planPar must be >= 0, got $planPar")
    require(Seq(pqIndexes, vecIndexes, vecShards).count(_.nonEmpty) == 1,
      "hybridShardedQuery needs EXACTLY ONE vector leg: pqIndexes " +
        "(standing IVFPQ shards), vecIndexes (standing IVF shards) or " +
        "vecShards (brute-force corpus shards) — a silent preference " +
        "among several would mask a misconfiguration")
    require(mode == "rrf" || mode == "linear",
      s"""mode must be "rrf" or "linear", got "$mode"""")
    // the lexical leg: bit-identical rows on every route (t45/t47/t48).
    // planPar > 0 plans it in ⌈S/planPar⌉ shard groups on driver threads
    // (the high-S form, EAGER: kPerLeg·|queries| rows per group through
    // the driver); 0 keeps the lazy single-plan composition. lexMaxScore
    // prunes head terms per shard leg; the two dials compose.
    val lex = Retrieval.bm25Family(spark, bm25Tables, queries, qidCol,
        textCol, kPerLeg, maxDfFrac = maxDfFrac, maxScore = lexMaxScore,
        parallelism = Some(planPar).filter(_ > 0))
      .select(col("qid"), col("doc_id").as("id"), col("rnk").as("rank"),
        col("score_micro").cast("double").as("score"))
    val vec = ((pqIndexes, vecIndexes) match {
      case (Some(ts), _) =>
        ProductQuant.ivfPqShardedQuery(spark, ts, queries, qidCol, vecCol,
          kPerLeg, probeFrac = probeFrac, refineK = refineK)
      case (None, Some(ts)) =>
        Similarity.ivfShardedQuery(spark, ts, queries, qidCol, vecCol,
          kPerLeg, probeFrac = probeFrac)
      case (None, None) =>
        Similarity.bruteForceShardedTopK(
          vecShards.get.map(_.select(col(embIdCol).as("_vid"),
            col(embVecCol).as("_vv"))),
          queries.select(col(qidCol).as("_vid"), col(vecCol).as("_vv")),
          "_vid", "_vv", kPerLeg)
    }).select(col("qid"), col("nid").as("id"), col("rank"),
        col("cos").as("score"))
    if (mode == "linear") linear(Seq(lex -> wLex, vec -> wVec), k)
    else rrf(Seq(lex -> wLex, vec -> wVec), k, rrfK)
  }

  /** [[hybridQuery]] + passage extraction — what a RAG consumer
    * actually reads: each fused top-k hit carries the first occurrence
    * of its best-scoring lexical query term and the ±`context`-token
    * window around it, sliced from `docs` (`docIdCol`/`docTextCol`: the
    * corpus text, which no index stores). Reuses the bag-of-words span
    * machinery ([[Retrieval.attachBestTermSnippets]], the t29 path)
    * against the BM25 index's positional table, so the index must be
    * built with `positions = true`.
    *
    * A hit retrieved by the VECTOR leg alone may contain no lexical
    * query term — it keeps its fused rank with null `start`/`snippet`
    * (no lexical passage exists; dropping or re-snipping it would
    * misreport the fusion). Plan discipline: the span pass touches only
    * the fused top-k docs (broadcast semi-join before any positional
    * probe) and the corpus text joins strictly AFTER fusion —
    * k·|queries| rows, never corpus mass.
    *
    * Output: (qid, id, fused_micro, rnk, start, snippet).
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
      : DataFrame = {
    require(context >= 0, s"context must be non-negative, got $context")
    val fused = hybridQuery(spark, bm25Table, queries, qidCol, textCol,
        vecCol, k, kPerLeg, rrfK, wLex, wVec, vecIndex, vecCorpus,
        embIdCol, embVecCol, probeFrac, maxDfFrac, mode, pqIndex, refineK,
        lexMaxScore)
      .select(col("qid"), col("id").as("doc_id"), col("fused_micro"),
        col("rnk"))
    val qt = queries
      .select(col(qidCol).as("qid"),
        explode(TextOps.tokens(lower(col(textCol)))).as("term"))
      .distinct()
    val qterms = Retrieval.pushableTerms(spark, qt)
    Retrieval.attachBestTermSnippets(spark, bm25Table, qt, fused, docs,
        docIdCol, docTextCol, context, k1 = 1.2, b = 0.75, maxDfFrac,
        qterms)
      .select(col("qid"), col("doc_id").as("id"), col("fused_micro"),
        col("rnk"), col("start"), col("snippet"))
  }

  /** [[hybridSnippets]] over doc-disjoint shards on both legs — the
    * RAG read path for a sharded deployment: [[hybridShardedQuery]]'s
    * fusion plus passage extraction through
    * [[Retrieval.attachBestTermSnippetsSharded]] (argmax terms chosen
    * against the GLOBAL stats fold, so the passages are exactly the
    * whole-index choices; positional lookups union per shard). Same
    * null-span contract for vector-only hits, same text-joins-strictly-
    * after-fusion discipline, same output schema as [[hybridSnippets]].
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
                              None): DataFrame = {
    require(context >= 0, s"context must be non-negative, got $context")
    val fused = hybridShardedQuery(spark, bm25Tables, queries, qidCol,
        textCol, vecCol, k, kPerLeg, rrfK, wLex, wVec, vecIndexes,
        vecShards, embIdCol, embVecCol, probeFrac, maxDfFrac, mode,
        pqIndexes, refineK, planPar, lexMaxScore)
      .select(col("qid"), col("id").as("doc_id"), col("fused_micro"),
        col("rnk"))
    val qt = queries
      .select(col(qidCol).as("qid"),
        explode(TextOps.tokens(lower(col(textCol)))).as("term"))
      .distinct()
    val qterms = Retrieval.pushableTerms(spark, qt)
    Retrieval.attachBestTermSnippetsSharded(spark, bm25Tables, qt, fused,
        docs, docIdCol, docTextCol, context, k1 = 1.2, b = 0.75,
        maxDfFrac, qterms)
      .select(col("qid"), col("doc_id").as("id"), col("fused_micro"),
        col("rnk"), col("start"), col("snippet"))
  }
}
