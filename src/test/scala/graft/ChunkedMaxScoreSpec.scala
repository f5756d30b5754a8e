package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Retrieval

/** Round-21 exact-cliff fix: a batch whose control rows overflow
  * `maxControlRows` no longer routes wholesale to the exact plan —
  * the qids pack into ≤ cap-row chunks and each chunk runs the
  * verbatim two-pass machinery (chunk-local exact fallback included).
  * These specs force the overflow at toy scale via the
  * `graft.maxControlRows` test dial and pin bit-identity against
  * [[Retrieval.bm25Query]] / [[Retrieval.bm25ShardedQuery]] across
  * every route: chunked-engaged, chunk-local fallback, monster-qid
  * exact rows, stop-term dial, tombstones.
  */
class ChunkedMaxScoreSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._
  import TestProps.withControlCap

  // the bm25QueryMaxScore spec corpus: head terms aaa/bbb (df = N),
  // rare w-terms (essential at the toy dial), mid-df x-terms
  private val n = 120
  private val docsMS = (0 until n).map { i =>
    (i.toLong, s"aaa bbb w${i % 30} x${i % 7}" +
      (if (i == 0) " aaa aaa aaa" else ""))
  }.toDF("doc_id", "text")

  // 12 queries × ≤4 indexed terms ≈ 40+ control rows — far over the
  // forced cap of 8, so the batch must chunk (and with cap 8, some
  // chunk holds ≥2 qids: the packing path, not one-qid-per-chunk)
  private val q = (0 until 12).map { i =>
    (i.toLong, s"aaa bbb w${i % 5} x${i % 7}")
  }.toDF("qid", "qtext")

  test("over-cap single-index MaxScore chunks and stays ≡ bm25Query " +
       "(engaged chunks, per-chunk fallback, monster qid, dials, " +
       "tombstones)") {
    Retrieval.bm25Build(docsMS, "doc_id", "text", "cms_idx", buckets = 2)
    def exact(k: Int, frac: Double = 1.0) =
      Retrieval.bm25Query(spark, "cms_idx", q, "qid", "qtext", k,
        maxDfFrac = frac).as[(Long, Long, Long, Int)].collect().toSet
    def ms(k: Int, ess: Double = 0.05, frac: Double = 1.0) =
      Retrieval.bm25QueryMaxScore(spark, "cms_idx", q, "qid",
        "qtext", k, essentialDfFrac = ess, maxDfFrac = frac,
        gateMinHeadMass = 1L, gateCandFrac = 1.0)
        .as[(Long, Long, Long, Int)].collect().toSet
    withControlCap(8) {
      assert(ms(3) == exact(3) && ms(3).nonEmpty)
      // k above candidate counts → chunk-local exact fallbacks fire
      assert(ms(10) == exact(10))
      // stop-term dial: the in-plan cap applies before the chunking
      assert(ms(3, frac = 0.5) == exact(3, frac = 0.5))
      // everything essential: chunks short-circuit to chunk-exact
      assert(ms(3, ess = 1.0) == exact(3))
    }
    // a monster qid whose OWN rows exceed the cap routes to the exact
    // leg while the rest stay chunked-engaged
    withControlCap(3) {
      assert(ms(3) == exact(3) && ms(3).nonEmpty)
    }
    // tombstones: corrected df/stats drive bounds through the chunks
    Retrieval.bm25Delete(spark, "cms_idx",
      docsMS.filter(col("doc_id") % 4 === 0).select("doc_id"), "doc_id")
    withControlCap(8) {
      assert(ms(3) == exact(3) && ms(3).nonEmpty)
    }
    // sanity: the same calls un-capped (production dials) still agree
    assert(ms(3) == exact(3))
  }

  test("over-cap sharded MaxScore chunks and stays ≡ whole-index " +
       "bm25Query") {
    Retrieval.bm25Build(docsMS.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", "cms_sh0", buckets = 2)
    Retrieval.bm25Build(docsMS.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", "cms_sh1", buckets = 2)
    Retrieval.bm25Build(docsMS, "doc_id", "text", "cms_shw", buckets = 2)
    val shards = Seq("cms_sh0", "cms_sh1")
    def whole(k: Int) = Retrieval.bm25Query(spark, "cms_shw", q,
      "qid", "qtext", k).as[(Long, Long, Long, Int)].collect().toSet
    def sms(k: Int) = Retrieval.bm25ShardedQueryMaxScore(spark, shards,
      q, "qid", "qtext", k, essentialDfFrac = 0.05,
      gateMinHeadMass = 1L, gateCandFrac = 1.0)
      .as[(Long, Long, Long, Int)].collect().toSet
    withControlCap(8) {
      assert(sms(3) == whole(3) && sms(3).nonEmpty)
      assert(sms(10) == whole(10))
    }
    // over-push-cap term lists also reach the chunked path now (the
    // pre-round-21 route went straight to the unpruned exact plan);
    // equality is the contract either way
    withControlCap(4) {
      assert(sms(3) == whole(3))
    }
  }

  test("tombstoned positional dial facts are path-independent: " +
       "sharded(S=1) NEAR ≡ single-index NEAR under the truncation " +
       "budget") {
    // positional corpus where the window-cover candidates overflow a
    // tiny maxPosMass budget, so the truncation dial ENGAGES and the
    // effective cap derives from the (N, avgdl) dial facts — which
    // must be tombstone-corrected on BOTH the single-index (fused
    // stats) and sharded (per-shard stats of the one control read)
    // paths, or the two would sample different candidate sets (round
    // 21, VERDICT r20 ask #6)
    val docs = (0 until 80).map { i =>
      (i.toLong, s"alpha beta gamma w${i % 9} pad$i filler${i % 3}")
    }.toDF("doc_id", "text")
    Retrieval.bm25Build(docs, "doc_id", "text", "cms_pos",
      buckets = 2, positions = true)
    Retrieval.bm25Delete(spark, "cms_pos",
      docs.filter(col("doc_id") % 3 === 0).select("doc_id"), "doc_id")
    val nq = Seq((1L, "alpha beta gamma"), (2L, "alpha w3"),
      (3L, "beta gamma w5")).toDF("qid", "qtext")
    def single(budget: Long) =
      Retrieval.bm25ProximityQuery(spark, "cms_pos", nq, "qid", "qtext",
        10, window = 8, maxPosMass = budget)
        .as[(Long, Long, Long, Int)].collect().toSet
    def sharded(budget: Long) =
      Retrieval.bm25ShardedProximityQuery(spark, Seq("cms_pos"), nq,
        "qid", "qtext", 10, window = 8, maxPosMass = budget)
        .as[(Long, Long, Long, Int)].collect().toSet
    // budget forcing truncation (candBound · avgdl ≫ 40) and a
    // comfortable exact budget both agree across paths
    for (budget <- Seq(40L, Long.MaxValue)) {
      assert(single(budget) == sharded(budget),
        s"single vs sharded(S=1) NEAR diverged at maxPosMass=$budget")
    }
    assert(single(Long.MaxValue).nonEmpty)
  }
}
