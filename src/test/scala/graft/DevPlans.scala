package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Regenerate PLANS.md: formatted physical plans of the headline
  * queries, for plan-quality review. `sbt "Test/runMain graft.DevPlans"`.
  */
object DevPlans {
  /** The one place the doc's provenance label lives — bump per regen. */
  private val round = 19

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = Seq(
      "a1_wordcount", "j1_join", "j5_bucketed", "j6_asof", "j7_range",
      "o1_sort", "o2_secsort", "dd3_simhash", "dd4_ngram", "dd2_minhash",
      "sim2_lsh", "sim3_ivf", "sim4_neardup", "sim8_lshindex", "mf1_lookup",
      "p1_clean", "t5_commonality",
      // r8/r9 surface: IVFPQ serving + append, BM25 build/append/delete,
      // star-contraction components, sharded simhash, minhash tombstones
      "sim9_ivfpq", "sim10_pqappend", "t16_bm25", "t17_bm25append",
      "t18_bm25delete", "dd8_components_star", "dd9_simhash_sharded",
      "dd10_tombstone",
      // r12 surface: the bm25/minhash tombstone FOLD paths and the
      // windowed/streaming family (w1-w5 run as batch frames here —
      // identical plans minus the streaming sink)
      "t19_bm25dfold", "dd11_tombfold", "t20_bm25phrase", "sim11_pq2level",
      "w1_tumbling", "w2_sessions", "w3_sliding", "w4_statefulsessions",
      "w5_intervaljoin",
      // r13 surface: NEAR proximity, hybrid fusion (RRF + linear),
      // bigram-LM scoring and its grown-index twin
      "t21_bm25near", "t22_hybrid", "t23_hybridlinear", "t24_lmscore",
      "t25_lmappend",
      // r14 surface: snippet extraction (phrase/NEAR/bag-of-words) and
      // the IVFPQ-served hybrid leg
      "t26_snippets", "t27_hybridpq", "t28_nearsnippets",
      "t29_bowsnippets",
      // r15 surface: LM takedown, hybrid snippets, sharded serving
      "t30_lmremove", "t31_hybridsnippets", "t32_shardedbm25",
      "t33_shardednear", "t34_shardedphrase",
      // r15 surface, second pass: the sharded vector/LM/hybrid family
      "sim12_shardedknn", "sim13_shardedivf", "sim14_shardedpq",
      "t35_shardedlm", "t36_shardedhybrid", "t37_shardedhybridsnip",
      // r17 surface: MaxScore dynamic pruning (single + sharded), the
      // MaxScore-leg hybrid fusion, and the OPQ-rotated IVFPQ
      "t44_maxscore", "t45_shardedmaxscore", "t46_hybridmaxscore",
      "t47_shardedhybridmaxscore", "sim17_opq",
      // r18/r19 surface: the grouped × MaxScore composed sharded
      // serving entry and the block-max layout gate
      "t48_groupedhybridmaxscore", "t49_blockmax")
    // Per-plan "why this is the 100× plan" note — the one property that
    // makes the plan survive a 100× scale-up, stated so a reviewer can
    // check it against the formatted plan below it.
    val notes: Map[String, String] = Map(
      "a1_wordcount" -> "Partial-agg before the exchange: the shuffle carries (word, count) partials, not tokens — shuffle volume tracks vocabulary, not corpus.",
      "j1_join" -> "Both scans prune to the join/agg columns; at sf0.01 the dim side broadcasts, and at ×10 AQE flips to SMJ (appendix) — no plan rewrite needed at scale.",
      "j5_bucketed" -> "Zero Exchange on either side: both tables are bucketed on the key, so the 100 TB join is a per-bucket zip, not a corpus shuffle.",
      "j6_asof" -> "Union+window as-of: one sort-within-partitions keyed by (symbol), no per-row subquery — cost is one shuffle of both inputs regardless of time density.",
      "j7_range" -> "Bucketized range join: events land in coarse time buckets and join bucket-to-bucket — the candidate set per row is O(bucket), never O(N) (no BroadcastNestedLoop).",
      "o1_sort" -> "Range-partitioned global sort (sampled bounds): each of the 32 partitions sorts independently; at 1000 executors the same plan holds with more range splits.",
      "o2_secsort" -> "One exchange on the grouping key with an intra-partition composite sort — the secondary order rides the same shuffle, never a second one.",
      "dd3_simhash" -> "Codegen'd simhash64 + band explode: candidates come from band-bucket joins (sort-free), pairs verified by Hamming popcount — never all-pairs.",
      "dd4_ngram" -> "One shingle exchange: the capped_ids posting lists combine map-side, so a hot shingle ships an overflow marker — O(cap) shuffle and memory, never O(freq); id_pairs emits each kept list's pairs plus one (a, a) size row per id, and two window exchanges (on ida, then idb) attach both set sizes — no self-join, no size joins, one shingle Generate.",
      "dd2_minhash" -> "minhash_sigs is a single codegen'd kernel (hashing fused in); LSH band keys bucket-join so the shuffle carries (id, bandkey) pairs, not signatures×signatures.",
      "sim2_lsh" -> "LSH buckets prune the candidate space; the cosine verify touches only colliding pairs — query cost tracks collisions, flat in corpus size.",
      "sim3_ivf" -> "Probes shuffle TO the cid-bucketed lists (index never moves); scoring is per-probed-list, so query cost is probeFrac×corpus at worst, not corpus.",
      "sim4_neardup" -> "LSH-blocked near-dup with quantized refine: blocking keys bound candidates, the exact cosine runs only inside blocks — measured to 1e7 vectors.",
      "sim8_lshindex" -> "Persisted admission index: the batch's bucket keys re-bucket into the standing layout, checks are co-located bucket joins — O(batch), flat as the corpus grows.",
      "mf1_lookup" -> "The IN-list pushes into the parquet scan (PushedFilters) — a point lookup reads row-group stats, not the table.",
      "p1_clean" -> "One corpus scan: the digest winner rides min_by inside the digest aggregation (no join-back), the near-dup pass is dd4's one-shingle-exchange kernel over the winners, and the loser ids anti-join back — exchanges on digest, shingle, ida and idb plus the final sort, whatever the corpus size.",
      "t5_commonality" -> "Token explode → partial agg → broadcast the tiny dictionary back: the per-doc rarity join broadcasts vocabulary stats, never re-shuffles the corpus.",
      "sim9_ivfpq" -> "ADC tables ride a qid-keyed broadcast (chunked under a byte cap), code lists stay cid-bucketed; refine re-ranks only refineK rows/query from the id-bucketed raw table.",
      "sim10_pqappend" -> "Frozen-quantizer absorb: batch rows encode against standing centroids+codebook and re-bucket into the standing layout — O(batch), nothing existing rewrites.",
      "t16_bm25" -> "Query terms push into the postings/dictionary scans as a parquet IN filter (term-sorted buckets -> row-group skip; check PushedFilters on the index scans); df fold and both index joins are zero-exchange; integer micro-unit scores make the sum order-independent.",
      "t17_bm25append" -> "Postings/dictionary deltas re-bucket into the standing layout; df and (N, avgdl) fold at query time — growing the corpus never rewrites the dictionary.",
      "t18_bm25delete" -> "Deletion is one broadcast anti-join over the index scan (the tombstone set), df/N/avgdl corrected from postings∩tombstones — no negative deltas to lose.",
      "t19_bm25dfold" -> "The fold recomputes derived tables from retained postings then rewrites postings — every table a pure function of (postings, tombstones), re-runnable at any kill point.",
      "t20_bm25phrase" -> "Phrase terms push into the positional scan (PushedFilters) and a rarest-term candidate semi-join bounds the start-alignment intersection by the lowest-df term's postings before any explode; scoring semi-joins the matched docs.",
      "sim11_pq2level" -> "Two-level coarse assignment ranks ~sqrt(nlist) supers then only their member centroids — the build pass stays linear when nlist itself is 1e5+; the persisted layout and the zero-shuffle query path are identical to sim9.",
      "dd8_components_star" -> "Large/small-star contraction: O(log n) rounds each a bounded groupBy — a diameter-200 chain converges without 200 propagation rounds.",
      "dd9_simhash_sharded" -> "Band tables build and join per shard: peak disk/memory is one shard's, unioned results are exact — the single-box 1e7 wall crossed without changing the plan shape.",
      "dd10_tombstone" -> "Tombstone consult is a broadcast anti-join on the existing index scan — deletion adds zero exchanges to the check path.",
      "dd11_tombfold" -> "Physical fold rewrites each bucketed table in place (crash-safe swap) and drops the set — compaction-cadence O(index), queries stay zero-extra-scan after.",
      "t21_bm25near" -> "Same pushed-term scans and rarest-term candidate gate as phrase; the window cover evaluates set-at-a-time on the STORED position arrays (per-group state bounded by the doc's own lists — the round-13 anchor-explode heap wall is retired), and the anchor budget auto-routes over-bound all-head batches to the truncation dial, loudly.",
      "t22_hybrid" -> "Fusion never touches the corpus: each leg is a bounded top-kPerLeg list off its own standing index (BM25 term buckets, IVF probe lists), the fused aggregate sees ≤ legs·kPerLeg tiny rows per query.",
      "t23_hybridlinear" -> "Identical leg plans to t22; the min-max windows aggregate per (leg, qid) over ≤ kPerLeg rows — normalization adds two tiny aggregates, no new scan.",
      "t24_lmscore" -> "Count fold groups by a superset of the bucket key: the index scan never exchanges; doc bigrams shuffle TO the counts (batch-sized), V is the one driver-side control value.",
      "t25_lmappend" -> "Append wrote deltas only; this plan is t24's over base+delta files — the fold absorbs appends with zero extra plan shape, proving grown ≡ whole-built structurally.",
      "w1_tumbling" -> "Tumbling windows are a pure groupBy(window(ts)) — partial-agg before the exchange, one shuffle keyed by (window, key) at any rate.",
      "w2_sessions" -> "session_window gaps merge inside the aggregate — state is per live session, not per event; the same plan runs streaming with a watermark bounding state.",
      "w3_sliding" -> "Sliding windows explode each event into window copies BEFORE the partial agg — shuffle carries per-window partials (slides/step × keys), not raw events.",
      "w4_statefulsessions" -> "flatMapGroupsWithState form of w2: one exchange on the key, per-group sorted iteration, explicit state eviction — the custom-semantics escape hatch at the same shuffle cost.",
      "w5_intervaljoin" -> "Event-time interval join with watermarks on both sides: the range condition bounds state retention, so stream-stream state is O(interval), not O(history).",
      "t26_snippets" -> "Ranking is t20's plan verbatim; the snippet text join probes the corpus with k·|queries| rows strictly AFTER top-k — never a corpus product.",
      "t27_hybridpq" -> "t22's fusion shape with the vector leg served from PQ codes (~32× smaller than raw vectors): ADC tables broadcast per query batch, refine re-ranks only the quantized top-rk on raw vectors — corpus vectors never shuffle.",
      "t28_nearsnippets" -> "Ranking is t21's plan; the cover-start pass semi-joins the positional scan down to the ranked rows BEFORE any occurrence explodes — span derivation costs top-k position mass, text joins after top-k.",
      "t29_bowsnippets" -> "Ranking is t16's plan; per-term partials recompute only for the broadcast-semi-joined top-k docs, the argmax runs on that tiny frame, and the first offset reads the delta-list head without decoding.",
      "t30_lmremove" -> "Takedown is an O(batch) append of NEGATED deltas — nothing rewrites; the same zero-exchange fold that absorbs appends cancels removals, and V reads from the one-row stats ledger.",
      "t31_hybridsnippets" -> "Fusion's bounded top-k drives the t29 span pass: partials recompute only for fused docs (broadcast semi-join), text joins strictly after fusion, vector-only hits keep rank with null spans via LEFT joins.",
      "t32_shardedbm25" -> "Global (N, avgdl, df) fold across shard dictionaries (tiny, term-pruned); each shard's postings scan is the single-index pushed plan verbatim; the merge is one bounded top-k over k-per-shard rows.",
      "t33_shardednear" -> "Per-shard window covers (the match is doc-local — a shard owns all its docs' positions), global-stats scoring, candidate gating per shard; the union carries matched docs only.",
      "t34_shardedphrase" -> "Per-shard phrase alignment (occurrences are doc-local), rarest-term candidate gates per shard, global-stats scoring; the merge is one bounded top-k over matched docs.",
      "sim12_shardedknn" -> "Distributed top-k argument made physical: every global winner is inside its own shard's exact top-k, so the merge reads Σ shards·k·|queries| tiny rows — per-shard scans are the single-corpus plan verbatim, a cluster pays max(shard).",
      "sim13_shardedivf" -> "Per-shard centroid families and probe dials: each shard's recall curve is the single-index curve on its own corpus; the cross-shard cost is only the bounded k-per-shard merge.",
      "sim14_shardedpq" -> "Per-shard codebooks trained on their own residuals; refined exact cosine makes scores globally comparable across differently-trained shards, so the merge needs no calibration.",
      "t35_shardedlm" -> "Counts are additive: per-shard folds stay bucket-local zero-exchange, only folded term-pruned rows cross shards, and V folds across vocab tables once per call (control-plane sized).",
      "t36_shardedhybrid" -> "Both legs sharded end-to-end (global-stats BM25 fold + exact vector merge) hand fusion the same bounded kPerLeg lists as one index — shard count never touches scores.",
      "t37_shardedhybridsnip" -> "Passage argmax against the GLOBAL stats fold (never per-shard df) keeps snippets identical to one index; every shard's span pass is doc-gated by the same broadcast fused top-k, text joins strictly after fusion.",
      "t44_maxscore" -> "MaxScore two-pass: the head terms' postings semi-join down to the essential candidates BEFORE the partial aggregate, so shuffle/agg mass tracks the rare terms' df, not the head lists (35.6x at 1e7, BASELINE) — both passes keep the pushed-term IN scans and the broadcast candidate gate.",
      "t45_shardedmaxscore" -> "The t44 pruning under the t32 control plane: ONE global stats+df fold drives the threshold, each shard leg scores against injected global constants with the SAME broadcast candidate doc-gate — the saved head mass is per-shard, the control cost is O(1) jobs.",
      "t46_hybridmaxscore" -> "The MaxScore pruned plan as the hybrid's LEXICAL leg: the LeftSemi candidate gate sits under the fusion union, the vector leg is untouched, and the fused tail stays the bounded top-k aggregate — per-query fused mass is legs×kPerLeg rows no matter how big the head postings were.",
      "t47_shardedhybridmaxscore" -> "t46 with BOTH legs sharded: per-shard gated scoring legs union under one global threshold fold; only per-term df rows, k·|queries| candidates, and the fused merge cross shards.",
      "sim17_opq" -> "OPQ-rotated IVFPQ serving: queries pay ONE mat_vec kernel each (plan-constant matrix, no broadcast), then the plan is sim9's verbatim — probes shuffle TO the cid-bucketed code lists, ADC tables ride the qid-keyed broadcast, refine joins the raw (UNROTATED) id-bucketed table at refineK rows/query.",
      "t48_groupedhybridmaxscore" -> "The composed 100TB serving entry (grouped x MaxScore, EAGER): each shard GROUP plans its two MaxScore passes in its own driver thread — what prints here is the per-group pass plan shape (pass 2's head postings LeftSemi-gated to the group's own materialized candidate literal, the S^2 fix) plus the bounded fused merge; PlanShapeSpec:154 asserts both mechanisms on the executed plans.",
      "t49_blockmax" -> "Block-max layout serving: the verified candidate set reaches the head postings SCAN as a pushed per-value doc/blk IN over (term, blk, doc_id)-sorted fine-paged files — parquet page stats skip, replacing (doc IN) or narrowing (blk IN) the semi-join; candidates are pre-tightened per query to essSum >= L - neSum and block-UB refined from _blkmax. Every pushed predicate is visible in PushedFilters below.")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the headline queries\n\n")
    sb.append(s"Regenerated round $round by `sbt \"Test/runMain graft.DevPlans\"` at sf0.01. ")
    sb.append("Things to check per plan: `PushedFilters`/pruned `ReadSchema` on scans, ")
    sb.append("ReusedExchange for self-joined derived tables, broadcast vs shuffle join ")
    sb.append("choices, and the absence of cartesian products / unexpected exchanges. ")
    sb.append("Each entry opens with the property that makes it the 100× plan — ")
    sb.append("check the claim against the plan printed under it.\n")
    names.foreach { n =>
      val df = queries.Queries.all(n)(spark, sfDir)
      sb.append(s"\n## $n\n\n")
      notes.get(n).foreach(note => sb.append(s"**100× plan:** $note\n\n"))
      sb.append("```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }
    // At-scale appendix: j1 against the DevBigBench ×10 corpus (if
    // materialized) — the broadcast→SortMergeJoin flip the 100 TB design
    // relies on, shown as the AQE FINAL plan, not the static estimate.
    val big = "/tmp/graft-scale/sfx10"
    if (Files.exists(Paths.get(s"$big/_GRAFT_DONE"))) {
      val df = queries.Queries.all("j1_join")(spark, big)
      df.collect() // execute THIS QueryExecution so AQE finalizes (a noop
                   // write would run a separate one and leave isFinalPlan=false)
      sb.append(s"\n## j1_join at sf0.1×10 (AQE final plan — broadcast flips to SMJ)\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString)
      sb.append("```\n")
    }
    Files.writeString(Paths.get("/root/repo/PLANS.md"), sb.toString)
    println(s"[plans] wrote PLANS.md (${names.size} queries)")
    spark.stop()
  }
}
