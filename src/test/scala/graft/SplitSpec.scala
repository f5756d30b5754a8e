package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{LangModel, ProductQuant, Retrieval, Sharding,
  Similarity}

/** The reshard path ([[Sharding]] + per-family `splitShard`): growing
  * one shard into two doc-disjoint children must leave every family's
  * sharded serving NUMERICALLY IDENTICAL, cost only the split shard,
  * and converge after a kill at any crash boundary.
  */
class SplitSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def n = System.nanoTime()

  private val corpus = graft.sources.Generators.randomText(spark, 200,
      seed = 21L, wordsMin = 6, wordsMax = 24, partitions = 4)
    .select(col("id").as("doc_id"), col("text"))

  private def shard(i: Int, of: Int) =
    corpus.filter(Sharding.shardOf($"doc_id", of) === i)

  private val queries = corpus.filter($"doc_id" % 20 === 0)
    .select($"doc_id".as("qid"),
      concat_ws(" ", slice(graft.operators.TextOps.tokens(
        lower($"text")), 1, 3)).as("qtext"))

  /** Tables left under retired shard names: the name itself or any
    * `<name>_…` table (its layout, tombstone set, split marker). */
  private def leftovers(names: String*): Seq[String] =
    spark.sessionState.catalog.listTables("default").map(_.table)
      .filter(t => names.map(_.toLowerCase)
        .exists(n => t == n || t.startsWith(n + "_")))

  /** After a converged split/merge: no table of the retired shards and
    * no merge marker remain. */
  private def assertRetired(parents: Seq[String],
                            merged: Option[String] = None): Unit = {
    assert(leftovers(parents: _*).isEmpty,
      s"reshard must retire the parents; left: ${leftovers(parents: _*)}")
    merged.foreach(m => assert(!spark.sessionState.catalog.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier(Sharding.mergeMarker(m))),
      s"merge marker of $m survives"))
  }

  /** Split chaos: for each boundary, build a fresh parent `<prefix>b<b>`
    * (the split consumes it), kill `split(p, c0, c1, failAt = b)`, and
    * re-run with failAt -1 (the public entry's call). `rows(tables)`
    * serves a table list together with the rest of the family: the
    * children must serve what the parent did, and no table of the
    * parent may survive. */
  private def splitChaos(name: String, prefix: String, build: String => Unit,
                         rows: Seq[String] => Any)
                        (split: (String, String, String, Int) => Unit)
      : Unit =
    for (b <- 0 to 4) {
      val p = s"${prefix}b$b"
      build(p)
      val pre = rows(Seq(p))
      val (c0, c1) = (s"${p}x", s"${p}y")
      intercept[Retrieval.InjectedSplitCrash](split(p, c0, c1, b))
      split(p, c0, c1, -1) // re-run heals
      assert(rows(Seq(c0, c1)) === pre,
        s"$name split diverged after crash at boundary $b")
      assertRetired(Seq(p))
    }

  /** Merge chaos, the same drill: fresh parents `<prefix>{0,1}b<b>` from
    * `build(shardIndex, table)`, a kill after each boundary, a re-run;
    * `rows(merged)` must equal `pre` and both parents must retire. */
  private def mergeChaos(name: String, prefix: String,
                         build: (Int, String) => Unit, rows: String => Any,
                         pre: Any)
                        (merge: (String, String, String, Int) => Unit)
      : Unit =
    for (b <- 0 to 3) {
      val (p0, p1, mt) = (s"${prefix}0b$b", s"${prefix}1b$b", s"${prefix}mb$b")
      build(0, p0)
      build(1, p1)
      intercept[Retrieval.InjectedSplitCrash](merge(p0, p1, mt, b))
      merge(p0, p1, mt, -1)
      assert(rows(mt) === pre, s"$name merge diverged after crash at boundary $b")
      assertRetired(Seq(p0, p1), Some(mt))
    }

  /** The clustered 8-d embeddings of the vector specs. */
  private lazy val clusteredEmb = {
    def vec(i: Long): Seq[Double] = {
      val c = (i % 4).toInt
      val base = Array.fill(8)(0.05)
      base(c * 2) = 1.0; base(c * 2 + 1) = 0.7
      Array.tabulate(8)(j => base(j) + 0.01 * (((i * 31 + j * 7) % 11) - 5)).toSeq
    }
    (0L until 80L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
  }

  test("block-max BM25 reshard: no parent table survives, children and " +
       "merges keep the layout and accept bm25Append, serving as a whole " +
       "build") {
    val id = n
    val (p, c0, c1, m) =
      (s"spl_bx_$id", s"spl_bxa_$id", s"spl_bxb_$id", s"spl_bxm_$id")
    // two held-out docs routed to child 0: one appends to the child,
    // the other to the merged table
    val held = corpus.filter(Sharding.shardOf($"doc_id", 2) === 0)
      .select($"doc_id").as[Long].collect().sorted.take(2)
    def without(ids: Long*) = corpus.filter(!$"doc_id".isin(ids: _*))
    def only(i: Long) = corpus.filter($"doc_id" === i)
    Retrieval.bm25Build(without(held: _*), "doc_id", "text", p,
      blockMax = true, blockWidth = 16)
    Retrieval.splitShard(spark, p, c0, c1)
    assertRetired(Seq(p))
    Retrieval.bm25Append(spark, c0, only(held(0)), "doc_id", "text")
    def whole(t: String, docs: org.apache.spark.sql.DataFrame) = {
      Retrieval.bm25Build(docs, "doc_id", "text", t)
      Retrieval.bm25Query(spark, t, queries, "qid", "qtext", 3)
        .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq
    }
    val want = whole(s"spl_bxw_$id", without(held(1)))
    assert(Retrieval.bm25ShardedQuery(spark, Seq(c0, c1), queries,
        "qid", "qtext", 3)
      .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq
      === want, "post-append split family diverged (exact)")
    assert(Retrieval.bm25ShardedQueryMaxScore(spark, Seq(c0, c1), queries,
        "qid", "qtext", 3)
      .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq
      === want, "post-append split family diverged (MaxScore)")
    // the children share one width, so the merge keeps the layout too
    Retrieval.mergeShards(spark, c0, c1, m)
    assertRetired(Seq(c0, c1), Some(m))
    assert(spark.table(s"${m}_blkmeta").as[Long].collect().toSeq == Seq(16L),
      "the merged table lost the block-max layout")
    Retrieval.bm25Append(spark, m, only(held(1)), "doc_id", "text")
    val wantAll = whole(s"spl_bxv_$id", corpus)
    assert(Retrieval.bm25QueryMaxScore(spark, m, queries, "qid", "qtext", 3)
      .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq
      === wantAll, "post-append merged table diverged")
    // mixed layouts (one plain parent) merge to the plain layout
    val (x0, x1, xm) = (s"spl_bxp0_$id", s"spl_bxp1_$id", s"spl_bxpm_$id")
    Retrieval.bm25Build(shard(0, 2), "doc_id", "text", x0, blockMax = true,
      blockWidth = 16)
    Retrieval.bm25Build(shard(1, 2), "doc_id", "text", x1)
    Retrieval.mergeShards(spark, x0, x1, xm)
    assertRetired(Seq(x0, x1), Some(xm))
    assert(!spark.table(xm).columns.contains("blk") &&
      leftovers(xm).forall(t => !t.endsWith("_blkmeta") && !t.endsWith("_blkmax")),
      "a mixed-layout merge must write the plain layout")
    assert(Retrieval.bm25QueryMaxScore(spark, xm, queries, "qid", "qtext", 3)
      .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq
      === wantAll, "mixed-layout merge diverged")
  }

  test("BM25 split: post-split family serves row-identical (bag + phrase), " +
       "doubling both shards yields the canonical 2S family") {
    val id = n
    val (s0, s1) = (s"spl_bm0_$id", s"spl_bm1_$id")
    Retrieval.bm25Build(shard(0, 2), "doc_id", "text", s0, positions = true)
    Retrieval.bm25Build(shard(1, 2), "doc_id", "text", s1, positions = true)
    def brows(ts: Seq[String]) =
      Retrieval.bm25ShardedQuery(spark, ts, queries, "qid", "qtext", 3)
        .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq
    def prows(ts: Seq[String]) =
      Retrieval.bm25ShardedPhraseQuery(spark, ts, queries, "qid", "qtext", 3)
        .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq
    val pre = brows(Seq(s0, s1))
    val prePhrase = prows(Seq(s0, s1))
    // split shard 0 of the 2-family
    val (c00, c10) = (s"spl_bm0a_$id", s"spl_bm0b_$id")
    Retrieval.splitShard(spark, s0, c00, c10, shardIndex = 0, nShards = 2)
    assert(!spark.sessionState.catalog.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier(s0)),
      "parent must retire after the split")
    assert(brows(Seq(c00, c10, s1)) === pre,
      "post-split bag ranking diverged")
    assert(prows(Seq(c00, c10, s1)) === prePhrase,
      "post-split phrase ranking diverged")
    // doubling the OTHER shard too yields the canonical 4-family:
    // child tables hold exactly the docs shardOf(id, 4) routes to them
    val (c01, c11) = (s"spl_bm1a_$id", s"spl_bm1b_$id")
    Retrieval.splitShard(spark, s1, c01, c11, shardIndex = 1, nShards = 2)
    val family4 = Seq(c00, c01, c10, c11) // index i, then i + S
    for (i <- 0 until 4) {
      val got = spark.table(family4(i)).select($"doc_id").distinct()
        .as[Long].collect().toSet
      val want = corpus.filter(Sharding.shardOf($"doc_id", 4) === i)
        .select($"doc_id").as[Long].collect().toSet
      assert(got == want, s"canonical family position $i holds wrong docs")
    }
    assert(brows(family4) === pre, "4-family ranking diverged")
  }

  test("BM25 split folds tombstones first: children born clean, scores " +
       "match a family that never held the deleted doc") {
    val id = n
    val (s0, s1) = (s"spl_tb0_$id", s"spl_tb1_$id")
    Retrieval.bm25Build(shard(0, 2), "doc_id", "text", s0)
    Retrieval.bm25Build(shard(1, 2), "doc_id", "text", s1)
    val victim = shard(0, 2).select($"doc_id").as[Long].head()
    Retrieval.bm25Delete(spark, s0, Seq(victim).toDF("doc_id"), "doc_id")
    val pre = Retrieval.bm25ShardedQuery(spark, Seq(s0, s1), queries,
        "qid", "qtext", 3)
      .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq
    val (c0, c1) = (s"spl_tb0a_$id", s"spl_tb0b_$id")
    Retrieval.splitShard(spark, s0, c0, c1, shardIndex = 0, nShards = 2)
    assert(Seq(c0, c1).forall(t =>
      spark.table(t).filter($"doc_id" === victim).count() == 0),
      "tombstoned doc leaked into a child")
    assert(Retrieval.bm25ShardedQuery(spark, Seq(c0, c1, s1), queries,
        "qid", "qtext", 3)
      .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq
      === pre, "post-split scores diverged from the tombstone-corrected pre-split")
  }

  test("LM split: corpus-retrained children keep sharded scoring " +
       "numerically identical (memoized stats refold across the split)") {
    val id = n
    val (s0, s1) = (s"spl_lm0_$id", s"spl_lm1_$id")
    LangModel.train(shard(0, 2), "doc_id", "text", s0)
    LangModel.train(shard(1, 2), "doc_id", "text", s1)
    val st = s"spl_lmst_$id"
    def rows(ts: Seq[String]) =
      LangModel.scoreSharded(spark, ts, corpus, "doc_id", "text",
          statsTable = Some(st))
        .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    val pre = rows(Seq(s0, s1))
    val (c0, c1) = (s"spl_lm0a_$id", s"spl_lm0b_$id")
    LangModel.splitShard(spark, s0, c0, c1, shard(0, 2), "doc_id", "text",
      shardIndex = 0, nShards = 2)
    assert(rows(Seq(c0, c1, s1)) === pre,
      "post-split sharded LM scores diverged")
    // the split children carry fresh generation ledgers: the memo
    // refolded (new signature) and still matched exactly
    spark.catalog.refreshTable(st)
    assert(spark.table(st).as[(String, Long)].head()._1.contains(c0),
      "stats cache did not re-key to the child family")
  }

  test("IVF + IVFPQ split: children reuse the parent quantizer and serve " +
       "row-identical at a PARTIAL probe budget") {
    val id = n
    def vec(i: Long): Seq[Double] = {
      val c = (i % 4).toInt
      val base = Array.fill(8)(0.05)
      base(c * 2) = 1.0; base(c * 2 + 1) = 0.7
      Array.tabulate(8)(j => base(j) + 0.01 * (((i * 31 + j * 7) % 11) - 5)).toSeq
    }
    val emb = (0L until 80L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    def eshard(i: Int) = emb.filter(Sharding.shardOf($"vec_id", 2) === i)
    val q = emb.filter($"vec_id" % 10 === 3)
    val (i0, i1) = (s"spl_ivf0_$id", s"spl_ivf1_$id")
    Similarity.ivfBuild(eshard(0), "vec_id", "embedding", i0, nlist = 6,
      buckets = 2)
    Similarity.ivfBuild(eshard(1), "vec_id", "embedding", i1, nlist = 6,
      buckets = 2)
    def irows(ts: Seq[String]) =
      Similarity.ivfShardedQuery(spark, ts, q, "vec_id", "embedding", 3,
          probeFrac = 0.34)
        .orderBy("qid", "rank").as[(Long, Long, Double, Int)].collect().toSeq
    val pre = irows(Seq(i0, i1))
    val (ic0, ic1) = (s"spl_ivf0a_$id", s"spl_ivf0b_$id")
    Similarity.splitShard(spark, i0, ic0, ic1, shardIndex = 0, nShards = 2)
    assert(irows(Seq(ic0, ic1, i1)) === pre,
      "post-split IVF results diverged at partial probe")
    // children share the parent's centroid family verbatim
    assert(spark.table(s"${ic0}_cents").collect().toSet
      === spark.table(s"${ic1}_cents").collect().toSet)

    val (p0, p1) = (s"spl_pq0_$id", s"spl_pq1_$id")
    ProductQuant.ivfPqBuild(eshard(0), "vec_id", "embedding", p0,
      m = 2, ksub = 4, nlist = 6, buckets = 2)
    ProductQuant.ivfPqBuild(eshard(1), "vec_id", "embedding", p1,
      m = 2, ksub = 4, nlist = 6, buckets = 2)
    // refineK must COVER the contenders for row-identity: the per-shard
    // refine truncation relaxes across a split (children's union pool
    // ⊇ the parent's — recall can only improve at small refineK), so
    // the equality pin runs at a covering refineK with the probe budget
    // still partial
    def qrows(ts: Seq[String]) =
      ProductQuant.ivfPqShardedQuery(spark, ts, q, "vec_id", "embedding", 3,
          probeFrac = 0.34, refineK = 64)
        .orderBy("qid", "rank").as[(Long, Long, Double, Int)].collect().toSeq
    val preQ = qrows(Seq(p0, p1))
    val (pc0, pc1) = (s"spl_pq0a_$id", s"spl_pq0b_$id")
    ProductQuant.splitShard(spark, p0, pc0, pc1, shardIndex = 0, nShards = 2)
    assert(qrows(Seq(pc0, pc1, p1)) === preQ,
      "post-split IVFPQ results diverged at partial probe + covering refine")
  }

  test("admission split (minhash + LSH): post-split sharded checks find " +
       "exactly the pre-split pairs; minhash chaos converges") {
    import graft.operators.{Dedup, Similarity}
    val id = n
    // minhash admission family
    val (m0, m1) = (s"spl_mh0_$id", s"spl_mh1_$id")
    Dedup.minhashIndexBuild(shard(0, 2), "text", "doc_id", m0)
    Dedup.minhashIndexBuild(shard(1, 2), "text", "doc_id", m1)
    val batch = corpus.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    def mrows(ts: Seq[String]) =
      Dedup.minhashDedupAgainstSharded(spark, ts, batch, "text", "doc_id")
        .select("batch_id", "corpus_id")
        .as[(Long, Long)].collect().toSet
    val pre = mrows(Seq(m0, m1))
    assert(pre.nonEmpty, "resubmitted docs must match their sources")
    // the sharded check equals the single-index check on a whole build
    Dedup.minhashIndexBuild(corpus, "text", "doc_id", s"spl_mhw_$id")
    assert(pre == Dedup.minhashDedupAgainst(spark, s"spl_mhw_$id", batch,
        "text", "doc_id")
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet,
      "sharded admission check diverged from the whole-built index")

    // LSH admission family (vectors)
    def vec(i: Long): Seq[Double] =
      Array.tabulate(8)(j => (((i * 31 + j * 7) % 11) - 5) / 5.0).toSeq
    val emb = (0L until 60L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    def eshard(i: Int) =
      emb.filter(graft.operators.Sharding.shardOf($"vec_id", 2) === i)
    val (l0, l1) = (s"spl_lsh0_$id", s"spl_lsh1_$id")
    Similarity.lshIndexBuild(eshard(0), "vec_id", "embedding", l0)
    Similarity.lshIndexBuild(eshard(1), "vec_id", "embedding", l1)
    val vbatch = emb.filter($"vec_id" % 5 === 0)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding")
    def lrows(ts: Seq[String]) =
      Similarity.lshDedupAgainstSharded(spark, ts, vbatch,
          "vec_id", "embedding")
        .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    val lpre = lrows(Seq(l0, l1))
    assert(lpre.nonEmpty, "resubmitted vectors must match their sources")
    val (lc0, lc1) = (s"spl_lsh0x_$id", s"spl_lsh0y_$id")
    Similarity.splitLshShard(spark, l0, lc0, lc1, shardIndex = 0,
      nShards = 2)
    assert(lrows(Seq(lc0, lc1, l1)) == lpre,
      "LSH admission split diverged")
    // chaos: kill at every boundary, re-run converges
    splitChaos("minhash admission", s"spl_mh_$id",
        Dedup.minhashIndexBuild(shard(0, 2), "text", "doc_id", _),
        ts => mrows(ts :+ m1)) {
      (p, c0, c1, f) => Dedup.splitShardImpl(spark, p, c0, c1, 0, 2, f)
    }
    splitChaos("LSH admission", s"spl_lsh_$id",
        Similarity.lshIndexBuild(eshard(0), "vec_id", "embedding", _),
        ts => lrows(ts :+ l1)) {
      (p, c0, c1, f) => Similarity.splitLshShardImpl(spark, p, c0, c1, 0, 2, f)
    }
  }

  test("mergeShards: the shrink path — merged families serve identically " +
       "(BM25 incl. chaos, LM, minhash, LSH, IVF retrain-on-union)") {
    import graft.operators.{Dedup, LangModel, Retrieval, Similarity}
    val id = n
    // ---- BM25: merge back to one table; positional mismatch rejected
    val (b0, b1) = (s"mrg_bm0_$id", s"mrg_bm1_$id")
    Retrieval.bm25Build(shard(0, 2), "doc_id", "text", b0)
    Retrieval.bm25Build(shard(1, 2), "doc_id", "text", b1)
    val pre = Retrieval.bm25ShardedQuery(spark, Seq(b0, b1), queries,
        "qid", "qtext", 3)
      .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq
    val bp = s"mrg_bmp_$id"
    Retrieval.bm25Build(shard(1, 2), "doc_id", "text", bp, positions = true)
    intercept[IllegalArgumentException] {
      Retrieval.mergeShards(spark, b0, bp, s"mrg_bad_$id")
    }

    // ---- LM: additive union, stats recomputed, memo refolds
    val (l0, l1) = (s"mrg_lm0_$id", s"mrg_lm1_$id")
    LangModel.train(shard(0, 2), "doc_id", "text", l0)
    LangModel.train(shard(1, 2), "doc_id", "text", l1)
    val lmPre = LangModel.scoreSharded(spark, Seq(l0, l1), corpus,
        "doc_id", "text")
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    val lm = s"mrg_lmm_$id"
    LangModel.mergeShards(spark, l0, l1, lm)
    assert(LangModel.score(spark, lm, corpus, "doc_id", "text")
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq === lmPre,
      "merged LM diverged from the sharded scoring")

    // ---- minhash admission
    val (m0, m1) = (s"mrg_mh0_$id", s"mrg_mh1_$id")
    Dedup.minhashIndexBuild(shard(0, 2), "text", "doc_id", m0)
    Dedup.minhashIndexBuild(shard(1, 2), "text", "doc_id", m1)
    val batch = corpus.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    val mhPre = Dedup.minhashDedupAgainstSharded(spark, Seq(m0, m1),
        batch, "text", "doc_id")
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    val mm = s"mrg_mhm_$id"
    Dedup.mergeShards(spark, m0, m1, mm)
    assert(Dedup.minhashDedupAgainst(spark, mm, batch, "text", "doc_id")
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
      == mhPre, "merged minhash admission diverged")

    // chaos on the real merges: kill at every boundary, re-run converges
    mergeChaos("BM25", s"mrg_ch_$id",
        (i, t) => Retrieval.bm25Build(shard(i, 2), "doc_id", "text", t),
        Retrieval.bm25Query(spark, _, queries, "qid", "qtext", 3)
          .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq,
        pre) {
      (p0, p1, m, f) => Retrieval.mergeShardsImpl(spark, p0, p1, m, f)
    }
    mergeChaos("LM", s"mrg_lch_$id",
        (i, t) => LangModel.train(shard(i, 2), "doc_id", "text", t),
        LangModel.score(spark, _, corpus, "doc_id", "text")
          .orderBy("id").as[(Long, Long, Long)].collect().toSeq,
        lmPre) {
      (p0, p1, m, f) => LangModel.mergeShardsImpl(spark, p0, p1, m, f)
    }
    mergeChaos("minhash", s"mrg_mch_$id",
        (i, t) => Dedup.minhashIndexBuild(shard(i, 2), "text", "doc_id", t),
        Dedup.minhashDedupAgainst(spark, _, batch, "text", "doc_id")
          .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet,
        mhPre) {
      (p0, p1, m, f) => Dedup.mergeShardsImpl(spark, p0, p1, m, f)
    }

    // ---- LSH admission + IVF retrain-on-union
    def vec(i: Long): Seq[Double] =
      Array.tabulate(8)(j => (((i * 31 + j * 7) % 11) - 5) / 5.0).toSeq
    val emb = (0L until 60L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    def eshard(i: Int) =
      emb.filter(graft.operators.Sharding.shardOf($"vec_id", 2) === i)
    val (s0, s1) = (s"mrg_lsh0_$id", s"mrg_lsh1_$id")
    Similarity.lshIndexBuild(eshard(0), "vec_id", "embedding", s0)
    Similarity.lshIndexBuild(eshard(1), "vec_id", "embedding", s1)
    val vbatch = emb.filter($"vec_id" % 5 === 0)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding")
    val lshPre = Similarity.lshDedupAgainstSharded(spark, Seq(s0, s1),
        vbatch, "vec_id", "embedding")
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    val lmm = s"mrg_lshm_$id"
    Similarity.mergeLshShards(spark, s0, s1, lmm)
    assert(Similarity.lshDedupAgainst(spark, lmm, vbatch,
        "vec_id", "embedding")
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
      == lshPre, "merged LSH admission diverged")

    val (i0, i1) = (s"mrg_ivf0_$id", s"mrg_ivf1_$id")
    Similarity.ivfBuild(eshard(0), "vec_id", "embedding", i0, nlist = 4,
      buckets = 2)
    Similarity.ivfBuild(eshard(1), "vec_id", "embedding", i1, nlist = 4,
      buckets = 2)
    val q = emb.filter($"vec_id" % 10 === 3)
    val ivfPre = Similarity.ivfShardedQuery(spark, Seq(i0, i1), q,
        "vec_id", "embedding", 3, probeFrac = 1.0)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val im = s"mrg_ivfm_$id"
    Similarity.mergeIvfShards(spark, i0, i1, im)
    assert(Similarity.ivfQuery(spark, im, q, "vec_id", "embedding", 3,
        probeFrac = 1.0)
      .select("qid", "nid").as[(Long, Long)].collect().toSet == ivfPre,
      "merged IVF (retrain-on-union) diverged at full probe")
  }

  test("vector-family merge chaos: a kill after EVERY boundary converges " +
       "on re-run (LSH admission, IVF, IVFPQ retrain-on-union)") {
    val id = n
    def vec(i: Long): Seq[Double] = {
      val c = (i % 4).toInt
      val base = Array.fill(8)(0.05)
      base(c * 2) = 1.0; base(c * 2 + 1) = 0.7
      Array.tabulate(8)(j => base(j) + 0.01 * (((i * 31 + j * 7) % 11) - 5)).toSeq
    }
    val emb = (0L until 80L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    def eshard(i: Int) = emb.filter(Sharding.shardOf($"vec_id", 2) === i)
    val q = emb.filter($"vec_id" % 10 === 3)
    val vbatch = emb.filter($"vec_id" % 5 === 0)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding")

    // ---- LSH admission: the merged check must reproduce the sharded one
    val (e0, e1) = (s"mch_le0_$id", s"mch_le1_$id")
    Similarity.lshIndexBuild(eshard(0), "vec_id", "embedding", e0)
    Similarity.lshIndexBuild(eshard(1), "vec_id", "embedding", e1)
    val lshPre = Similarity.lshDedupAgainstSharded(spark, Seq(e0, e1),
        vbatch, "vec_id", "embedding")
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    mergeChaos("LSH", s"mch_l_$id",
        (i, t) => Similarity.lshIndexBuild(eshard(i), "vec_id", "embedding", t),
        Similarity.lshDedupAgainst(spark, _, vbatch, "vec_id", "embedding")
          .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet,
        lshPre) {
      (p0, p1, m, f) => Similarity.mergeLshShardsImpl(spark, p0, p1, m, f)
    }

    // ---- IVF: full probe is exhaustive, so the healed retrain-on-union
    // must serve exactly the pre-merge sharded full-probe winners
    val (iv0, iv1) = (s"mch_ie0_$id", s"mch_ie1_$id")
    Similarity.ivfBuild(eshard(0), "vec_id", "embedding", iv0, nlist = 6,
      buckets = 2)
    Similarity.ivfBuild(eshard(1), "vec_id", "embedding", iv1, nlist = 6,
      buckets = 2)
    val ivfPre = Similarity.ivfShardedQuery(spark, Seq(iv0, iv1), q,
        "vec_id", "embedding", 3, probeFrac = 1.0)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    mergeChaos("IVF", s"mch_i_$id",
        (i, t) => Similarity.ivfBuild(eshard(i), "vec_id", "embedding", t,
          nlist = 6, buckets = 2),
        Similarity.ivfQuery(spark, _, q, "vec_id", "embedding", 3,
            probeFrac = 1.0)
          .select("qid", "nid").as[(Long, Long)].collect().toSet,
        ivfPre) {
      (p0, p1, m, f) => Similarity.mergeIvfShardsImpl(spark, p0, p1, m, f)
    }

    // ---- IVFPQ: full probe + covering refine re-ranks on exact cosines,
    // so the healed merge matches the pre-merge sharded winners
    val (pq0, pq1) = (s"mch_pe0_$id", s"mch_pe1_$id")
    ProductQuant.ivfPqBuild(eshard(0), "vec_id", "embedding", pq0,
      m = 2, ksub = 4, nlist = 6, buckets = 2)
    ProductQuant.ivfPqBuild(eshard(1), "vec_id", "embedding", pq1,
      m = 2, ksub = 4, nlist = 6, buckets = 2)
    val pqPre = ProductQuant.ivfPqShardedQuery(spark, Seq(pq0, pq1), q,
        "vec_id", "embedding", 3, probeFrac = 1.0, refineK = 64)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    mergeChaos("IVFPQ", s"mch_p_$id",
        (i, t) => ProductQuant.ivfPqBuild(eshard(i), "vec_id", "embedding", t,
          m = 2, ksub = 4, nlist = 6, buckets = 2),
        ProductQuant.ivfPqQuery(spark, _, q, "vec_id", "embedding", 3,
            probeFrac = 1.0, refineK = 64)
          .select("qid", "nid").as[(Long, Long)].collect().toSet,
        pqPre) {
      (p0, p1, m, f) => ProductQuant.mergeShardsImpl(spark, p0, p1, m, f)
    }
  }

  test("split chaos: a kill after EVERY boundary converges on re-run " +
       "(BM25 and LM), serving bit-identical") {
    val id = n
    val (s1, l1) = (s"spl_ch1_$id", s"spl_chl1_$id")
    Retrieval.bm25Build(shard(1, 2), "doc_id", "text", s1)
    splitChaos("BM25", s"spl_chb_$id",
        Retrieval.bm25Build(shard(0, 2), "doc_id", "text", _),
        ts => Retrieval.bm25ShardedQuery(spark, ts :+ s1, queries,
            "qid", "qtext", 3)
          .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq) {
      (p, c0, c1, f) => Retrieval.splitShardImpl(spark, p, c0, c1, 0, 2, f)
    }
    // LM: same drill through the corpus-retrain split
    LangModel.train(shard(1, 2), "doc_id", "text", l1)
    splitChaos("LM", s"spl_chlb_$id",
        LangModel.train(shard(0, 2), "doc_id", "text", _),
        ts => LangModel.scoreSharded(spark, ts :+ l1, corpus,
            "doc_id", "text")
          .orderBy("id").as[(Long, Long, Long)].collect().toSeq) {
      (p, c0, c1, f) => LangModel.splitShardImpl(spark, p, c0, c1,
        shard(0, 2), "doc_id", "text", 0, 2, f)
    }
    // IVF and IVFPQ: row-identical at a partial probe (covering refine
    // for IVFPQ — see the IVF + IVFPQ split spec)
    def eshard(i: Int) =
      clusteredEmb.filter(Sharding.shardOf($"vec_id", 2) === i)
    val q = clusteredEmb.filter($"vec_id" % 10 === 3)
    val (iv1, pq1) = (s"spl_chi1_$id", s"spl_chq1_$id")
    def ivfBuild(i: Int, t: String) =
      Similarity.ivfBuild(eshard(i), "vec_id", "embedding", t, nlist = 6,
        buckets = 2)
    def pqBuild(i: Int, t: String) =
      ProductQuant.ivfPqBuild(eshard(i), "vec_id", "embedding", t,
        m = 2, ksub = 4, nlist = 6, buckets = 2)
    ivfBuild(1, iv1)
    pqBuild(1, pq1)
    splitChaos("IVF", s"spl_chi_$id", ivfBuild(0, _),
        ts => Similarity.ivfShardedQuery(spark, ts :+ iv1, q, "vec_id",
            "embedding", 3, probeFrac = 0.34)
          .orderBy("qid", "rank").as[(Long, Long, Double, Int)].collect()
          .toSeq) {
      (p, c0, c1, f) => Similarity.splitShardImpl(spark, p, c0, c1, 0, 2, f)
    }
    splitChaos("IVFPQ", s"spl_chq_$id", pqBuild(0, _),
        ts => ProductQuant.ivfPqShardedQuery(spark, ts :+ pq1, q, "vec_id",
            "embedding", 3, probeFrac = 0.34, refineK = 64)
          .orderBy("qid", "rank").as[(Long, Long, Double, Int)].collect()
          .toSeq) {
      (p, c0, c1, f) => ProductQuant.splitShardImpl(spark, p, c0, c1, 0, 2, f)
    }
  }
}
