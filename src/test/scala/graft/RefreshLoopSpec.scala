package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.streaming.RefreshLoop

/** Streaming corpus-refresh loop: micro-batches dedup against the
  * standing MinHash index AND within themselves, novel docs are absorbed
  * so the next micro-batch sees them.
  */
class RefreshLoopSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._
  graft.functions.GraftFunctions.ensureRegistered(spark)

  test("micro-batches dedup against index + intra-batch, novel docs absorbed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext

    Dedup.minhashIndexBuild(
      Seq(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "the quick brown fox jumps over the lazy dog"),
        (3L, "completely different text about spark query engines today"))
        .toDF("doc_id", "text"),
      "text", "doc_id", "refresh_spec_idx")

    // (epoch, batch_id, match_id, source) and (epoch, admitted ids)
    val dupLog = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, String)]()
    val novelLog = scala.collection.mutable.ArrayBuffer[(Long, Set[Long])]()

    val ms = MemoryStream[(Long, String)]
    // compactEvery = 1: every epoch's append is folded before the next
    // epoch's lookup, so the batch-1 assertions below also prove the
    // index answers correctly ACROSS a compaction cycle
    val q = RefreshLoop.minhashRefresh(
        ms.toDF().toDF("doc_id", "text"), "refresh_spec_idx",
        "text", "doc_id", threshold = 0.3, compactEvery = 1) { (dups, novel, epoch) =>
      dups.select("batch_id", "match_id", "source")
        .as[(Long, Long, String)].collect()
        .foreach { case (b, m, s) => dupLog += ((epoch, b, m, s)) }
      novelLog += ((epoch,
        novel.select("doc_id").as[Long].collect().toSet))
    }.start()

    try {
      // batch 0: a corpus dup, a novel doc, and an intra-batch dup of it
      ms.addData(
        (101L, "the quick brown fox jumps over the lazy dog"),
        (110L, "entirely novel content that matches nothing else here"),
        (111L, "entirely novel content that matches nothing else here"))
      q.processAllAvailable()
      // batch 1: a dup of batch 0's ADMITTED doc — findable only if the
      // append absorbed 110 into the index — plus a fresh novel doc
      ms.addData(
        (201L, "entirely novel content that matches nothing else here"),
        (210L, "another unrelated document mentioning catalyst plans only"))
      q.processAllAvailable()
    } finally q.stop()

    val e0 = dupLog.filter(_._1 == 0).map(t => (t._2, t._3, t._4)).toSet
    assert(e0.contains((101L, 1L, "corpus")) && e0.contains((101L, 2L, "corpus")))
    assert(e0.contains((111L, 110L, "batch")))
    assert(!e0.exists(_._1 == 110L), "novel doc flagged as dup")
    assert(novelLog.find(_._1 == 0).get._2 == Set(110L))

    val e1 = dupLog.filter(_._1 == 1).map(t => (t._2, t._3, t._4)).toSet
    assert(e1.contains((201L, 110L, "corpus")),
      "batch-1 dup of an absorbed doc not found — append didn't reach the index")
    assert(!e1.exists(t => t._1 == 201L && t._2 == 111L),
      "111 was a dup and must NOT have been absorbed")
    assert(novelLog.find(_._1 == 1).get._2 == Set(210L))

    // and the index grew by exactly the admitted docs (the appends ran
    // on the micro-batch's cloned session, so this session's cached
    // file listing is stale — refresh, as any cross-session reader of
    // an externally-appended table must)
    spark.catalog.refreshTable("refresh_spec_idx_sigs")
    val ids = spark.table("refresh_spec_idx_sigs").select("id")
      .as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 3L, 110L, 210L))
  }

  test("embedding refresh: batches dedup against LSH index + intra-batch, novel absorbed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext

    val corpus = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0, 0.0))).toDF("vec_id", "embedding")
    graft.operators.Similarity.lshIndexBuild(corpus,
      "vec_id", "embedding", "refresh_spec_lsh")
    // the optional QUERY-serving index the loop keeps fresh
    graft.operators.Similarity.ivfBuild(corpus,
      "vec_id", "embedding", "refresh_spec_ivf")

    val dupLog = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, String)]()
    val novelLog = scala.collection.mutable.ArrayBuffer[(Long, Set[Long])]()

    val ms = MemoryStream[(Long, Seq[Double])]
    val q = RefreshLoop.embeddingRefresh(
        ms.toDF().toDF("vec_id", "embedding"), "refresh_spec_lsh",
        "vec_id", "embedding",
        ivfTable = Some("refresh_spec_ivf")) { (dups, novel, epoch) =>
      dups.select("batch_id", "match_id", "source")
        .as[(Long, Long, String)].collect()
        .foreach { case (b, m, s) => dupLog += ((epoch, b, m, s)) }
      novelLog += ((epoch,
        novel.select("vec_id").as[Long].collect().toSet))
    }.start()

    try {
      // epoch 0: a dup of corpus vec 1, a novel direction, its twin
      ms.addData(
        (101L, Seq(1.0, 0.0, 0.0, 0.0)),
        (110L, Seq(0.0, 0.0, 0.0, 1.0)),
        (111L, Seq(0.0, 0.0, 0.0, 1.0)))
      q.processAllAvailable()
      // epoch 1: a dup of the ABSORBED 110, the SAME id resubmitted
      // (must match its own indexed row — excludeSelf=false), plus a
      // genuinely new one
      ms.addData(
        (110L, Seq(0.0, 0.0, 0.0, 1.0)),
        (201L, Seq(0.0, 0.0, 0.0, 1.0)),
        (210L, Seq(0.5, 0.5, 0.5, 0.5)))
      q.processAllAvailable()
    } finally q.stop()

    val e0 = dupLog.filter(_._1 == 0).map(t => (t._2, t._3, t._4)).toSet
    assert(e0.contains((101L, 1L, "corpus")))
    assert(e0.contains((111L, 110L, "batch")))
    assert(novelLog.find(_._1 == 0).get._2 == Set(110L))

    val e1 = dupLog.filter(_._1 == 1).map(t => (t._2, t._3, t._4)).toSet
    assert(e1.exists(t => t._1 == 201L && t._2 == 110L),
      "epoch-1 dup of an absorbed vector not found through the appended buckets")
    assert(e1.contains((110L, 110L, "corpus")),
      "resubmitted id did not match its own standing indexed row")
    assert(novelLog.find(_._1 == 1).get._2 == Set(210L))

    // both indexes grew by exactly the admitted vectors — in particular
    // the IVF table: novel is pinned (localCheckpoint) before either
    // append, so the LSH absorb can no longer empty the IVF absorb's
    // input by invalidating a cached plan that read the LSH tables
    spark.catalog.refreshTable("refresh_spec_lsh_vecs")
    spark.catalog.refreshTable("refresh_spec_ivf")
    assert(spark.table("refresh_spec_lsh_vecs").select("id")
      .as[Long].collect().toSet == Set(1L, 2L, 3L, 110L, 210L))
    assert(spark.table("refresh_spec_ivf").select("nid")
      .as[Long].collect().toSet == Set(1L, 2L, 3L, 110L, 210L))
  }

  test("replayed epoch is effectively-once: outputs reproduced, index unchanged") {
    Dedup.minhashIndexBuild(
      Seq(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "completely different text about spark query engines today"))
        .toDF("doc_id", "text"),
      "text", "doc_id", "replay_spec_idx")

    val runs = scala.collection.mutable.ArrayBuffer[(Set[(Long, Long, String)], Set[Long])]()
    val fn = graft.streaming.RefreshLoop.minhashBatch(
        "replay_spec_idx", "text", "doc_id", threshold = 0.3) { (dups, novel, _) =>
      runs += ((dups.select("batch_id", "match_id", "source")
          .as[(Long, Long, String)].collect().toSet,
        novel.select("doc_id").as[Long].collect().toSet))
    }
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog"),
      (110L, "entirely novel content that matches nothing else here"),
      (111L, "entirely novel content that matches nothing else here"))
      .toDF("doc_id", "text")

    fn(batch, 7L)
    def indexState(): (Long, Set[Long]) = {
      spark.catalog.refreshTable("replay_spec_idx_sigs")
      spark.catalog.refreshTable("replay_spec_idx_bands")
      (spark.table("replay_spec_idx_bands").count(),
        spark.table("replay_spec_idx_sigs").select("id").as[Long].collect().toSet)
    }
    val after1 = indexState()
    assert(after1._2 == Set(1L, 2L, 110L), "epoch 7 should absorb only 110")
    assert(runs(0)._2 == Set(110L))

    // the crash-replay: same epoch id again — the absorbed 110 is now
    // IN the index, and without the ledger it would self-match (flagged
    // dup, never re-admitted) and/or append twice
    fn(batch, 7L)
    assert(indexState() == after1,
      "replayed epoch must not grow the index")
    assert(runs(1) == runs(0),
      s"replayed epoch must reproduce the original outputs, got ${runs(1)} vs ${runs(0)}")

    // a LATER epoch resubmitting the same content is NOT a replay: it
    // must match the standing absorbed copy and admit nothing new
    fn(Seq((201L, "entirely novel content that matches nothing else here"))
      .toDF("doc_id", "text"), 8L)
    assert(runs(2)._1.contains((201L, 110L, "corpus")))
    assert(runs(2)._2.isEmpty)
    assert(indexState()._2 == after1._2)
  }

  test("mid-append crash: replay repairs the partial append, outputs reproduced") {
    import graft.operators.BucketedJoin
    Dedup.minhashIndexBuild(
      Seq(
        (1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "completely different text about spark query engines today"))
        .toDF("doc_id", "text"),
      "text", "doc_id", "crash_spec_idx")

    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog"),
      (110L, "entirely novel content that matches nothing else here"))
      .toDF("doc_id", "text")

    // hand-build the crash state of epoch 5: admission decided
    // (novel = {110} recorded AND phase-1 marker written), then the
    // absorb died after the _sigs append landed but before _bands and
    // the commit marker
    BucketedJoin.appendBucketed(
      Seq((5L, "novel", Some(110L)), (5L, "noveldone", None))
        .toDF("epoch", "phase", "id"),
      "crash_spec_idx_epochs", "epoch", defaultBuckets = 1)
    BucketedJoin.appendBucketed(
      batch.filter($"doc_id" === 110L)
        .select(col("doc_id").as("id"),
          Dedup.minhashSignature(col("text")).as("sig")),
      "crash_spec_idx_sigs", "id")
    spark.catalog.refreshTable("crash_spec_idx_sigs")
    assert(spark.table("crash_spec_idx_sigs")
      .filter($"id" === 110L).count() == 1, "crash state not built")

    val runs = scala.collection.mutable.ArrayBuffer[(Set[(Long, Long, String)], Set[Long])]()
    val fn = graft.streaming.RefreshLoop.minhashBatch(
        "crash_spec_idx", "text", "doc_id", threshold = 0.3) { (dups, novel, _) =>
      runs += ((dups.select("batch_id", "match_id", "source")
          .as[(Long, Long, String)].collect().toSet,
        novel.select("doc_id").as[Long].collect().toSet))
    }
    // the replay: must reproduce the ORIGINAL epoch's outputs (110
    // novel, 101 a corpus dup of identical doc 1 — NO self-match
    // against the partially-landed 110 row) and complete the append
    fn(batch, 5L)
    assert(runs(0)._2 == Set(110L), s"novel not reconstructed: ${runs(0)._2}")
    assert(runs(0)._1 == Set((101L, 1L, "corpus")),
      s"replay outputs contaminated by the partial append: ${runs(0)._1}")
    spark.catalog.refreshTable("crash_spec_idx_sigs")
    spark.catalog.refreshTable("crash_spec_idx_bands")
    assert(spark.table("crash_spec_idx_sigs")
      .filter($"id" === 110L).count() == 1,
      "repair duplicated the partially-landed sig row")
    val bandRows = spark.table("crash_spec_idx_bands")
      .filter($"id" === 110L).count()
    assert(bandRows == 16L,
      s"repair did not complete the missing band rows: $bandRows")
    // and a dup of 110 is now findable end to end
    runs.clear()
    fn(Seq((201L, "entirely novel content that matches nothing else here"))
      .toDF("doc_id", "text"), 6L)
    assert(runs(0)._1.contains((201L, 110L, "corpus")))
  }

  test("crash inside phase 1: partial novel ids without the marker replay as undecided") {
    Dedup.minhashIndexBuild(
      Seq((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "completely different text about spark query engines today"))
        .toDF("doc_id", "text"),
      "text", "doc_id", "p1crash_spec_idx")

    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog"),
      (110L, "entirely novel content that matches nothing else here"),
      (111L, "another brand new document with its own unique words"))
      .toDF("doc_id", "text")

    // crash state: recordNovel died with only ONE of the two novel ids
    // visible and no `noveldone` marker. Phase 1 precedes every index
    // append, so the index is untouched — the replay must NOT trust the
    // partial id set (that would silently drop 111 from novel forever).
    graft.operators.BucketedJoin.appendBucketed(
      Seq((7L, "novel", 110L)).toDF("epoch", "phase", "id"),
      "p1crash_spec_idx_epochs", "epoch", defaultBuckets = 1)

    val runs = scala.collection.mutable.ArrayBuffer[(Set[(Long, Long, String)], Set[Long])]()
    val fn = graft.streaming.RefreshLoop.minhashBatch(
        "p1crash_spec_idx", "text", "doc_id", threshold = 0.3) { (dups, novel, _) =>
      runs += ((dups.select("batch_id", "match_id", "source")
          .as[(Long, Long, String)].collect().toSet,
        novel.select("doc_id").as[Long].collect().toSet))
    }
    fn(batch, 7L)
    assert(runs(0)._2 == Set(110L, 111L),
      s"replay trusted the partial phase-1 id set: ${runs(0)._2}")
    assert(runs(0)._1 == Set((101L, 1L, "corpus")), runs(0)._1.toString)
    // the completed ledger holds each id ONCE (row-level phase-1 repair)
    spark.catalog.refreshTable("p1crash_spec_idx_epochs")
    val ledger = spark.table("p1crash_spec_idx_epochs")
      .filter($"epoch" === 7L && $"phase" === "novel")
      .select("id").as[Long].collect().toList
    assert(ledger.sorted == List(110L, 111L),
      s"phase-1 repair duplicated or dropped ledger ids: $ledger")
    // both novel docs are fully indexed
    spark.catalog.refreshTable("p1crash_spec_idx_sigs")
    assert(spark.table("p1crash_spec_idx_sigs").select("id")
      .as[Long].collect().toSet == Set(1L, 2L, 110L, 111L))
    // and a committed replay reproduces the outputs without re-appending
    runs.clear()
    fn(batch, 7L)
    assert(runs(0)._2 == Set(110L, 111L))
    assert(runs(0)._1 == Set((101L, 1L, "corpus")))
    spark.catalog.refreshTable("p1crash_spec_idx_sigs")
    assert(spark.table("p1crash_spec_idx_sigs")
      .filter($"id" === 110L).count() == 1)
  }

  test("bm25 twin: admitted docs absorbed into the lexical index, " +
       "grown-through-the-loop ≡ whole-built, replay effectively-once") {
    import graft.operators.Retrieval
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about spark query engines today"))
      .toDF("doc_id", "text")
    Dedup.minhashIndexBuild(base, "text", "doc_id", "bm25tw_idx")
    Retrieval.bm25Build(base, "doc_id", "text", "bm25tw_bm")

    val fn = RefreshLoop.minhashBatch("bm25tw_idx", "text", "doc_id",
      threshold = 0.3, bm25Table = Some("bm25tw_bm")) { (_, _, _) => }
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog"), // dup: stays out
      (110L, "entirely novel content that matches nothing else here"))
      .toDF("doc_id", "text")
    fn(batch, 2L)

    val queries = Seq((1L, "entirely novel content")).toDF("qid", "qtext")
    def results(t: String): Set[(Long, Long, Long, Int)] = {
      Seq(t, s"${t}_terms", s"${t}_stats").foreach { x =>
        if (spark.sessionState.catalog.tableExists(
          org.apache.spark.sql.catalyst.TableIdentifier(x)))
          spark.catalog.refreshTable(x)
      }
      Retrieval.bm25Query(spark, t, queries, "qid", "qtext", 3)
        .as[(Long, Long, Long, Int)].collect().toSet
    }
    val grown = results("bm25tw_bm")
    assert(grown.exists(_._2 == 110L), "admitted doc not searchable")
    assert(!grown.exists(_._2 == 101L), "rejected dup reached the index")
    // the absorb must leave the index scoring EXACTLY like one built
    // whole on base + admitted (df deltas, stats row, postings buckets)
    Retrieval.bm25Build(base.unionByName(batch.filter($"doc_id" === 110L)),
      "doc_id", "text", "bm25tw_oracle")
    assert(grown == results("bm25tw_oracle"))
    // replay of the committed epoch: no growth, same scores
    fn(batch, 2L)
    assert(results("bm25tw_bm") == grown)
    spark.catalog.refreshTable("bm25tw_bm_stats")
    assert(spark.table("bm25tw_bm_stats").agg(sum("n_docs"))
      .as[Long].head() == 3L, "replay double-counted the stats delta")
  }

  test("bm25 twin crash: partial postings repaired to whole-built equality") {
    import graft.operators.{BucketedJoin, Retrieval}
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about spark query engines today"))
      .toDF("doc_id", "text")
    Dedup.minhashIndexBuild(base, "text", "doc_id", "bm25cr_idx")
    Retrieval.bm25Build(base, "doc_id", "text", "bm25cr_bm")
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog"),
      (110L, "entirely novel content that matches nothing else here"))
      .toDF("doc_id", "text")
    // crash state of epoch 5: decision recorded (novel = {110} +
    // marker), then the bm25 absorb died after ONE posting row landed —
    // no df delta, no stats delta, nothing in the minhash index
    BucketedJoin.appendBucketed(
      Seq((5L, "novel", Some(110L)), (5L, "noveldone", None))
        .toDF("epoch", "phase", "id"),
      "bm25cr_idx_epochs", "epoch", defaultBuckets = 1)
    BucketedJoin.appendBucketed(
      Seq(("entirely", 110L, 1L, 8L)).toDF("term", "doc_id", "tf", "dl"),
      "bm25cr_bm", "term")

    val fn = RefreshLoop.minhashBatch("bm25cr_idx", "text", "doc_id",
      threshold = 0.3, bm25Table = Some("bm25cr_bm")) { (_, _, _) => }
    fn(batch, 5L)

    val queries = Seq((1L, "entirely novel content"),
      (2L, "spark query engines")).toDF("qid", "qtext")
    def results(t: String): Set[(Long, Long, Long, Int)] = {
      Seq(t, s"${t}_terms", s"${t}_stats").foreach { x =>
        if (spark.sessionState.catalog.tableExists(
          org.apache.spark.sql.catalyst.TableIdentifier(x)))
          spark.catalog.refreshTable(x)
      }
      Retrieval.bm25Query(spark, t, queries, "qid", "qtext", 3)
        .as[(Long, Long, Long, Int)].collect().toSet
    }
    Retrieval.bm25Build(base.unionByName(batch.filter($"doc_id" === 110L)),
      "doc_id", "text", "bm25cr_oracle")
    assert(results("bm25cr_bm") == results("bm25cr_oracle"),
      "repaired bm25 index diverges from whole-built")
    // the partially-landed posting row was not duplicated, and the
    // derived tables were rebuilt consistent with the postings
    spark.catalog.refreshTable("bm25cr_bm")
    assert(spark.table("bm25cr_bm")
      .filter($"doc_id" === 110L && $"term" === "entirely").count() == 1)
    assert(spark.table("bm25cr_bm").filter($"doc_id" === 110L).count() == 8)
  }

  test("bm25 twin with block-max: every compaction cadence folds _blkmax to one file per bucket") {
    import graft.operators.Retrieval
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about spark query engines today"),
      (3L, "a third document on lexical retrieval and block bounds"))
      .toDF("doc_id", "text")
    Dedup.minhashIndexBuild(base, "text", "doc_id", "bm25bx_idx")
    Retrieval.bm25Build(base, "doc_id", "text", "bm25bx_bm", buckets = 4,
      blockMax = true, blockWidth = 2)
    val fn = RefreshLoop.minhashBatch("bm25bx_idx", "text", "doc_id",
      threshold = 0.3, bm25Table = Some("bm25bx_bm"),
      compactEvery = 1) { (_, _, _) => }
    val batches = Seq(
      Seq((110L, "entirely novel content that matches nothing else here"),
        (111L, "fresh words about query planning and bounds")),
      Seq((120L, "yet another unrelated text mentioning catalyst rules"),
        (121L, "final batch document about parquet pages and blocks")))
    for ((b, epoch) <- batches.zipWithIndex) {
      fn(b.toDF("doc_id", "text"), epoch.toLong)
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("bm25bx_bm_blkmax"))
        .location.getPath
      val ids = new java.io.File(loc).listFiles().toSeq.map(_.getName)
        .filter(_.endsWith(".parquet")).map(org.apache.spark.sql.execution
          .datasources.BucketingUtils.getBucketId)
      assert(ids.nonEmpty && ids.forall(_.isDefined) &&
        ids.distinct.size == ids.size,
        s"epoch $epoch: _blkmax kept more than one file per bucket: $ids")
    }
    // the compacted block-max index still serves like one built whole
    Retrieval.bm25Build(base.unionByName(batches.flatten.toDF("doc_id", "text")),
      "doc_id", "text", "bm25bx_oracle", buckets = 4, blockMax = true,
      blockWidth = 2)
    val q = Seq((1L, "novel query bounds"), (2L, "catalyst parquet blocks"))
      .toDF("qid", "qtext")
    def run(t: String) = Retrieval.bm25Query(spark, t, q, "qid", "qtext", 3)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(run("bm25bx_bm") == run("bm25bx_oracle"))
  }

  test("bm25 twin with block-max: a kill inside a _blkmax compaction swap heals at the next epoch") {
    import graft.operators.{BucketedJoin, Retrieval}
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about spark query engines today"),
      (3L, "a third document on lexical retrieval and block bounds"))
      .toDF("doc_id", "text")
    Dedup.minhashIndexBuild(base, "text", "doc_id", "bm25bk_idx")
    Retrieval.bm25Build(base, "doc_id", "text", "bm25bk_bm", buckets = 4,
      blockMax = true, blockWidth = 2)
    val fn = RefreshLoop.minhashBatch("bm25bk_idx", "text", "doc_id",
      threshold = 0.3, bm25Table = Some("bm25bk_bm"),
      compactEvery = 1) { (_, _, _) => }
    val batches = Seq(
      Seq((110L, "entirely novel content that matches nothing else here"),
        (111L, "fresh words about query planning and bounds")),
      Seq((120L, "yet another unrelated text mentioning catalyst rules"),
        (121L, "final batch document about parquet pages and blocks")))
    fn(batches(0).toDF("doc_id", "text"), 0L)
    // a compaction of _blkmax killed between its rename-aside and its
    // rename-in: the table absent, its complete copy staged
    intercept[BucketedJoin.InjectedRewriteCrash] {
      BucketedJoin.rewriteBucketedImpl(spark, "bm25bk_bm_blkmax", "term",
        failAt = 2)(identity)
    }
    def exists(t: String) = spark.sessionState.catalog.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier(t))
    assert(!exists("bm25bk_bm_blkmax") && exists("bm25bk_bm_blkmax_compacting"))
    fn(batches(1).toDF("doc_id", "text"), 1L)
    assert(!exists("bm25bk_bm_blkmax_compacting") && !exists("bm25bk_bm_blkmax_old"))
    // every bound survives: the healed index matches one built whole
    Retrieval.bm25Build(base.unionByName(batches.flatten.toDF("doc_id", "text")),
      "doc_id", "text", "bm25bk_oracle", buckets = 4, blockMax = true,
      blockWidth = 2)
    def bounds(t: String) = spark.table(s"${t}_blkmax")
      .groupBy("term", "blk").agg(max("max_tf"), min("min_dl"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(bounds("bm25bk_bm") == bounds("bm25bk_oracle"),
      "block bounds lost across the killed _blkmax swap")
    val q = Seq((1L, "novel query bounds"), (2L, "quick brown fox"),
      (3L, "catalyst parquet blocks")).toDF("qid", "qtext")
    def run(t: String) = Retrieval.bm25QueryMaxScore(spark, t, q, "qid",
      "qtext", 3).as[(Long, Long, Long, Int)].collect().toSet
    assert(run("bm25bk_bm") == run("bm25bk_oracle"))
  }

  test("legacy ledger (pre-noveldone): commit implies decided on replay") {
    import graft.operators.BucketedJoin
    Dedup.minhashIndexBuild(
      Seq((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "completely different text about spark query engines today"))
        .toDF("doc_id", "text"),
      "text", "doc_id", "legacy_spec_idx")
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog"),
      (110L, "entirely novel content that matches nothing else here"))
      .toDF("doc_id", "text")
    // a round-7-format ledger: novel rows and a commit marker, but NO
    // noveldone row — and the index already holds the committed absorb
    BucketedJoin.appendBucketed(
      Seq((4L, "novel", Some(110L)), (4L, "commit", None))
        .toDF("epoch", "phase", "id"),
      "legacy_spec_idx_epochs", "epoch", defaultBuckets = 1)
    Dedup.minhashIndexAppend(spark, "legacy_spec_idx",
      batch.filter($"doc_id" === 110L), "text", "doc_id")

    val runs = scala.collection.mutable.ArrayBuffer[(Set[(Long, Long, String)], Set[Long])]()
    val fn = RefreshLoop.minhashBatch(
        "legacy_spec_idx", "text", "doc_id", threshold = 0.3) { (dups, novel, _) =>
      runs += ((dups.select("batch_id", "match_id", "source")
          .as[(Long, Long, String)].collect().toSet,
        novel.select("doc_id").as[Long].collect().toSet))
    }
    // replay: commit must imply decided — the recorded id is excluded
    // from the index check (no 110 self-match), novel reconstructs from
    // the ledger, and the committed appends are skipped
    fn(batch, 4L)
    assert(runs(0)._2 == Set(110L),
      s"legacy committed epoch re-ran admission: novel=${runs(0)._2}")
    assert(runs(0)._1 == Set((101L, 1L, "corpus")),
      s"legacy replay self-matched its own absorb: ${runs(0)._1}")
    spark.catalog.refreshTable("legacy_spec_idx_sigs")
    assert(spark.table("legacy_spec_idx_sigs")
      .filter($"id" === 110L).count() == 1, "legacy replay re-appended")
  }

  test("ledger retention: compaction prunes epochs outside the retain window") {
    Dedup.minhashIndexBuild(
      Seq((1L, "seed doc one two three four five")).toDF("doc_id", "text"),
      "text", "doc_id", "retain_spec_idx")
    val fn = graft.streaming.RefreshLoop.minhashBatch(
      "retain_spec_idx", "text", "doc_id", threshold = 0.3,
      compactEvery = 1) { (_, _, _) => }
    fn(Seq((10L, "first unique doc content here alpha"))
      .toDF("doc_id", "text"), 0L)
    spark.catalog.refreshTable("retain_spec_idx_epochs")
    assert(spark.table("retain_spec_idx_epochs")
      .filter($"epoch" === 0L).count() > 0)
    // a much later epoch: its compaction must prune epoch 0's rows —
    // the ledger is a replay structure whose working set is the most
    // recent epoch, not an unbounded admission log
    fn(Seq((20L, "totally different words sharing no shingles whatsoever beta"))
      .toDF("doc_id", "text"), 100L)
    spark.catalog.refreshTable("retain_spec_idx_epochs")
    val epochs = spark.table("retain_spec_idx_epochs")
      .select("epoch").distinct().as[Long].collect().toSet
    assert(epochs == Set(100L), s"stale ledger epochs survived: $epochs")
    // pruning is ledger-metadata only — the INDEX keeps everything
    spark.catalog.refreshTable("retain_spec_idx_sigs")
    assert(spark.table("retain_spec_idx_sigs").select("id")
      .as[Long].collect().toSet == Set(1L, 10L, 20L))
  }

  test("legacy ledger UNCOMMITTED: partially-landed appends excluded from the check and repaired") {
    import graft.operators.BucketedJoin
    Dedup.minhashIndexBuild(
      Seq((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "completely different text about spark query engines today"))
        .toDF("doc_id", "text"),
      "text", "doc_id", "legacyu_spec_idx")
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog"),
      (110L, "entirely novel content that matches nothing else here"))
      .toDF("doc_id", "text")
    // round-7-format crash state: novel id rows but NO noveldone AND NO
    // commit marker — and the absorb FULLY landed before the crash (the
    // worst partial: everything visible, nothing committed). Without
    // gating repair on the id rows' presence, the replay would let 110
    // self-match against its own landed rows (routed dup, never novel)
    // and/or re-append them.
    BucketedJoin.appendBucketed(
      Seq((4L, "novel", 110L)).toDF("epoch", "phase", "id"),
      "legacyu_spec_idx_epochs", "epoch", defaultBuckets = 1)
    Dedup.minhashIndexAppend(spark, "legacyu_spec_idx",
      batch.filter($"doc_id" === 110L), "text", "doc_id")

    val runs = scala.collection.mutable.ArrayBuffer[(Set[(Long, Long, String)], Set[Long])]()
    val fn = RefreshLoop.minhashBatch(
        "legacyu_spec_idx", "text", "doc_id", threshold = 0.3) { (dups, novel, _) =>
      runs += ((dups.select("batch_id", "match_id", "source")
          .as[(Long, Long, String)].collect().toSet,
        novel.select("doc_id").as[Long].collect().toSet))
    }
    // the replay: dup/novel routing must equal the committed-path oracle
    fn(batch, 4L)
    assert(runs(0)._2 == Set(110L),
      s"legacy uncommitted replay dropped the recorded id from novel: ${runs(0)._2}")
    assert(runs(0)._1 == Set((101L, 1L, "corpus")),
      s"legacy uncommitted replay self-matched its own landed rows: ${runs(0)._1}")
    // row-level repair: nothing duplicated, everything complete
    spark.catalog.refreshTable("legacyu_spec_idx_sigs")
    spark.catalog.refreshTable("legacyu_spec_idx_bands")
    assert(spark.table("legacyu_spec_idx_sigs")
      .filter($"id" === 110L).count() == 1, "repair duplicated the sig row")
    assert(spark.table("legacyu_spec_idx_bands")
      .filter($"id" === 110L).count() == 16L, "band rows not exactly complete")
    // phase-1 completion did not duplicate the ledger id either
    spark.catalog.refreshTable("legacyu_spec_idx_epochs")
    assert(spark.table("legacyu_spec_idx_epochs")
      .filter($"epoch" === 4L && $"phase" === "novel").count() == 1)
    // grown ≡ whole-built: the next epoch finds the absorbed doc once
    fn(Seq((201L, "entirely novel content that matches nothing else here"))
      .toDF("doc_id", "text"), 5L)
    assert(runs(1)._1 == Set((201L, 110L, "corpus")))
    assert(runs(1)._2.isEmpty)
  }

  test("ivfpq twin: admitted vectors absorbed, grown ≡ whole-built, crash mid-absorb repaired") {
    import graft.operators.{BucketedJoin, ProductQuant, Similarity}
    def mkVecs(rows: Seq[(Long, Seq[Double])]) = rows.toDF("vec_id", "embedding")
    def clustered(i: Long): Seq[Double] = {
      val c = (i % 4).toInt
      val base = Array.fill(8)(0.05)
      base(c * 2) = 1.0; base(c * 2 + 1) = 0.7
      Array.tabulate(8)(j => base(j) + 0.01 * (((i * 31 + j * 7) % 11) - 5)).toSeq
    }
    val v110 = Seq(1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0)
    val v111 = Seq(1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0)
    val v112 = Seq(-1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.3)
    val base = mkVecs((0L until 40L).map(i => (i, clustered(i))))
    Similarity.lshIndexBuild(base, "vec_id", "embedding", "pqtw_lsh")
    ProductQuant.ivfPqBuild(base, "vec_id", "embedding", "pqtw_pq",
      m = 2, ksub = 4, nlist = 5, buckets = 2)

    val runs = scala.collection.mutable.ArrayBuffer[(Set[(Long, Long, String)], Set[Long])]()
    val fn = RefreshLoop.embeddingBatch("pqtw_lsh", "vec_id", "embedding",
        pqTable = Some("pqtw_pq")) { (dups, novel, _) =>
      runs += ((dups.select("batch_id", "match_id", "source")
          .as[(Long, Long, String)].collect().toSet,
        novel.select("vec_id").as[Long].collect().toSet))
    }
    // epoch 2: an exact dup of corpus vec 1 plus two novel directions
    val batch = mkVecs(Seq((101L, clustered(1L)), (110L, v110), (111L, v111)))
    fn(batch, 2L)
    assert(runs(0)._1.contains((101L, 1L, "corpus")))
    assert(runs(0)._2 == Set(110L, 111L))
    // the PQ serving index grew by exactly the admitted ids
    spark.catalog.refreshTable("pqtw_pq")
    spark.catalog.refreshTable("pqtw_pq_vecs")
    assert(spark.table("pqtw_pq_vecs").select("nid").as[Long].collect().toSet
      == (0L until 40L).toSet + 110L + 111L)
    // grown ≡ whole-built: with every list probed and refineK covering
    // the corpus, BOTH reduce to the exact cosine top-k (the refine
    // re-rank is exact), so the frozen-codebook absorb must answer
    // identically to an index trained whole on base + admitted
    val queries = base.filter($"vec_id" % 10 === 3)
    def top(t: String): Set[(Long, Long)] =
      ProductQuant.ivfPqQuery(spark, t, queries, "vec_id", "embedding", 3,
        probeFrac = 1.0, refineK = 64)
        .select("qid", "nid").as[(Long, Long)].collect().toSet
    ProductQuant.ivfPqBuild(
      base.unionByName(mkVecs(Seq((110L, v110), (111L, v111)))),
      "vec_id", "embedding", "pqtw_oracle",
      m = 2, ksub = 4, nlist = 5, buckets = 2)
    assert(top("pqtw_pq") == top("pqtw_oracle"),
      "grown-through-the-loop PQ index diverges from whole-built")
    // replay of the committed epoch: neither table grows
    val counts = (spark.table("pqtw_pq").count(),
      spark.table("pqtw_pq_vecs").count())
    fn(batch, 2L)
    spark.catalog.refreshTable("pqtw_pq")
    spark.catalog.refreshTable("pqtw_pq_vecs")
    assert((spark.table("pqtw_pq").count(),
      spark.table("pqtw_pq_vecs").count()) == counts,
      "replayed epoch grew the PQ index")
    assert(runs(1) == runs(0))

    // crash mid-PQ-absorb at epoch 3: decision recorded, the raw-vector
    // append landed, the code-list append did not
    BucketedJoin.appendBucketed(
      Seq((3L, "novel", Some(112L)), (3L, "noveldone", None))
        .toDF("epoch", "phase", "id"),
      "pqtw_lsh_epochs", "epoch", defaultBuckets = 1)
    BucketedJoin.appendBucketed(
      mkVecs(Seq((112L, v112))).select(col("vec_id").as("nid"),
        col("embedding").cast("array<double>").as("nvec")),
      "pqtw_pq_vecs", "nid")
    fn(mkVecs(Seq((112L, v112))), 3L)
    spark.catalog.refreshTable("pqtw_pq")
    spark.catalog.refreshTable("pqtw_pq_vecs")
    assert(spark.table("pqtw_pq_vecs").filter($"nid" === 112L).count() == 1,
      "repair duplicated the partially-landed raw row")
    val codeRows = spark.table("pqtw_pq").filter($"nid" === 112L)
    assert(codeRows.count() >= 1 &&
      codeRows.count() == codeRows.select("cid").distinct().count(),
      "repair did not complete the code rows exactly once per list")
  }

  test("bm25 twin with positions: admitted docs phrase-findable, grown ≡ whole-built") {
    import graft.operators.Retrieval
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about spark query engines today"))
      .toDF("doc_id", "text")
    Dedup.minhashIndexBuild(base, "text", "doc_id", "bm25pos_idx")
    Retrieval.bm25Build(base, "doc_id", "text", "bm25pos_bm",
      positions = true)
    // compactEvery = 1 also exercises the positional table's compaction
    val fn = RefreshLoop.minhashBatch("bm25pos_idx", "text", "doc_id",
      threshold = 0.3, bm25Table = Some("bm25pos_bm"),
      compactEvery = 1) { (_, _, _) => }
    fn(Seq(
      (101L, "the quick brown fox jumps over the lazy dog"), // dup: out
      (110L, "entirely novel content that matches nothing else here"))
      .toDF("doc_id", "text"), 2L)

    val q = Seq((9L, "novel content that")).toDF("qid", "qtext")
    def phrase(t: String): Set[(Long, Long, Long, Int)] = {
      Seq(t, s"${t}_terms", s"${t}_stats", s"${t}_pos").foreach { x =>
        if (spark.sessionState.catalog.tableExists(
          org.apache.spark.sql.catalyst.TableIdentifier(x)))
          spark.catalog.refreshTable(x)
      }
      Retrieval.bm25PhraseQuery(spark, t, q, "qid", "qtext", 3)
        .as[(Long, Long, Long, Int)].collect().toSet
    }
    val grown = phrase("bm25pos_bm")
    assert(grown.map(_._2) == Set(110L),
      s"admitted doc not phrase-findable through the loop: $grown")
    // the loop-grown positional index answers exactly like whole-built
    Retrieval.bm25Build(
      base.unionByName(Seq(
        (110L, "entirely novel content that matches nothing else here"))
        .toDF("doc_id", "text")),
      "doc_id", "text", "bm25pos_oracle", positions = true)
    assert(grown == phrase("bm25pos_oracle"))
    // replay of the committed epoch leaves the positional table fixed
    spark.catalog.refreshTable("bm25pos_bm_pos")
    val posRows = spark.table("bm25pos_bm_pos").count()
    fn(Seq(
      (101L, "the quick brown fox jumps over the lazy dog"),
      (110L, "entirely novel content that matches nothing else here"))
      .toDF("doc_id", "text"), 2L)
    spark.catalog.refreshTable("bm25pos_bm_pos")
    assert(spark.table("bm25pos_bm_pos").count() == posRows,
      "replay grew the positional table")
    assert(phrase("bm25pos_bm") == grown)
  }

  test("takedown mid-loop: a duplicate of a deleted doc re-admits as novel") {
    import graft.operators.Tombstones
    Dedup.minhashIndexBuild(
      Seq((1L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text"),
      "text", "doc_id", "readmit_spec_idx")
    val runs = scala.collection.mutable.ArrayBuffer[(Set[(Long, Long, String)], Set[Long])]()
    val fn = RefreshLoop.minhashBatch(
        "readmit_spec_idx", "text", "doc_id", threshold = 0.3) { (dups, novel, _) =>
      runs += ((dups.select("batch_id", "match_id", "source")
          .as[(Long, Long, String)].collect().toSet,
        novel.select("doc_id").as[Long].collect().toSet))
    }
    fn(Seq((110L, "entirely novel content that matches nothing else here"))
      .toDF("doc_id", "text"), 0L)
    assert(runs(0)._2 == Set(110L))
    // takedown mid-loop: the admitted doc is deleted from the index
    Tombstones.add(spark, "readmit_spec_idx", Seq(110L).toDF("id"), "id")
    // a DUPLICATE of the deleted doc (new id) must be admitted as novel
    // — the admission check consults the tombstone set, so deleted
    // content is re-admittable immediately, before any fold
    fn(Seq((201L, "entirely novel content that matches nothing else here"))
      .toDF("doc_id", "text"), 1L)
    assert(runs(1)._1.isEmpty,
      s"duplicate of a DELETED doc still matched: ${runs(1)._1}")
    assert(runs(1)._2 == Set(201L),
      "duplicate of a deleted doc was not re-admitted as novel")
    // and the re-admitted copy is itself indexed and findable
    fn(Seq((301L, "entirely novel content that matches nothing else here"))
      .toDF("doc_id", "text"), 2L)
    assert(runs(2)._1 == Set((301L, 201L, "corpus")),
      s"re-admitted copy not findable (or deleted id resurfaced): ${runs(2)._1}")
    assert(runs(2)._2.isEmpty)
  }

  // DevDrift's decay scenario, miniaturized: corpus clustered in dims
  // 0..3, drifted batch clustered in dims 4..7 — orthogonal to every
  // trained centroid, so the absorb's batch-mean top-1 cosine ≈ 0 and
  // the drift signal must fire.
  private def lowVec(i: Long): Seq[Double] = {
    val v = Array.fill(8)(0.0)
    v((i % 4).toInt) = 1.0
    v(((i + 1) % 4).toInt) = 0.1 + 0.01 * (i % 7)
    v.toSeq
  }
  // 8 pairwise well-separated directions in the high subspace (max
  // pairwise cosine ≈ 0.84, far under the 0.999 admission threshold,
  // so every drifted vector is admitted as novel deterministically)
  private def highVec(i: Long): Seq[Double] = {
    val v = Array.fill(8)(0.0)
    v(4 + (i % 4).toInt) = 1.0
    v(4 + ((i + 1) % 4).toInt) = if (i < 4) 0.3 else -0.3
    v.toSeq
  }

  test("retrainOnDrift: drifted batch auto-retrains the serving index, recall restored") {
    import graft.operators.Similarity
    val corpus = (0L until 40L).map(i => (i, lowVec(i))).toDF("vec_id", "embedding")
    Similarity.lshIndexBuild(corpus, "vec_id", "embedding", "drift_lsh")
    Similarity.ivfBuild(corpus, "vec_id", "embedding", "drift_ivf")

    val fn = RefreshLoop.embeddingBatch("drift_lsh", "vec_id", "embedding",
      ivfTable = Some("drift_ivf"), retrainOnDrift = true) { (_, _, _) => }
    val drifted = (0L until 8L).map(i => (100L + i, highVec(i)))
      .toDF("vec_id", "embedding")
    fn(drifted, 0L)

    // the retrain swapped in an index rebuilt from the GROWN corpus:
    // built_n re-derives as 48, and the stats row is the retrained one
    spark.catalog.refreshTable("drift_ivf_stats")
    assert(spark.table("drift_ivf_stats").head().getLong(0) == 48L,
      "drift did not trigger an in-epoch retrain")
    // recall restored (the DevDrift contract): a JITTERED drifted-
    // direction query under the standard probe budget finds its
    // neighbor — pre-retrain the drifted subspace is orthogonal to
    // every centroid, so a jittered query's list ranking is noise
    spark.catalog.refreshTable("drift_ivf")
    spark.catalog.refreshTable("drift_ivf_cents")
    val jittered = highVec(3L).zipWithIndex
      .map { case (x, d) => x + (if (d == 0) 0.01 else 0.0) }
    val q = Seq((9000L, jittered)).toDF("vec_id", "embedding")
    val got = Similarity.ivfQuery(spark, "drift_ivf", q, "vec_id",
        "embedding", 3, probeFrac = 0.5)
      .select("nid").as[Long].collect().toSet
    assert(got.contains(103L),
      s"drifted neighbor not served after auto-retrain: $got")
    // control: the default (warn-only) loop leaves the build reference
    Similarity.lshIndexBuild(corpus, "vec_id", "embedding", "driftc_lsh")
    Similarity.ivfBuild(corpus, "vec_id", "embedding", "driftc_ivf")
    val fnWarn = RefreshLoop.embeddingBatch("driftc_lsh", "vec_id",
      "embedding", ivfTable = Some("driftc_ivf")) { (_, _, _) => }
    fnWarn(drifted, 0L)
    spark.catalog.refreshTable("driftc_ivf_stats")
    assert(spark.table("driftc_ivf_stats").head().getLong(0) == 40L,
      "warn-only loop must not retrain")
  }

  test("kill mid-retrain: the replayed epoch heals before appending (IVF and IVFPQ stash)") {
    import graft.operators.{BucketedJoin, ProductQuant, Similarity}
    val corpus = (0L until 40L).map(i => (i, lowVec(i))).toDF("vec_id", "embedding")
    Similarity.lshIndexBuild(corpus, "vec_id", "embedding", "rcrash_lsh")
    Similarity.ivfBuild(corpus, "vec_id", "embedding", "rcrash_ivf")
    ProductQuant.ivfPqBuild(corpus, "vec_id", "embedding", "rcrash_pq",
      m = 2, ksub = 4, nlist = 5, buckets = 2)

    // crash state A (IVF): killed right after the rename-aside — the
    // index table is GONE, only the renamed source remains
    spark.sql("ALTER TABLE rcrash_ivf RENAME TO rcrash_ivf_retrainsrc")
    // crash state B (IVFPQ): killed after the rename AND the derived
    // drops — only the raw corpus under the rename-aside and the m
    // stash survive (the worst resumable state)
    spark.sql("ALTER TABLE rcrash_pq_vecs RENAME TO rcrash_pq_vecs_retrainsrc")
    for (t <- Seq("rcrash_pq", "rcrash_pq_cents", "rcrash_pq_pq",
                  "rcrash_pq_meta", "rcrash_pq_stats"))
      BucketedJoin.dropWithLocation(spark, t)
    BucketedJoin.writeBucketed(Seq(2).toDF("m"), "rcrash_pq_retrainmeta", "m", 1)

    val runs = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    val fn = RefreshLoop.embeddingBatch("rcrash_lsh", "vec_id", "embedding",
      ivfTable = Some("rcrash_ivf"), pqTable = Some("rcrash_pq")) { (_, novel, _) =>
      runs += novel.select("vec_id").as[Long].collect().toSet
    }
    val batch = Seq((200L, highVec(0L))).toDF("vec_id", "embedding")
    fn(batch, 0L) // must heal BOTH crashed retrains, then absorb 200
    assert(runs(0) == Set(200L))
    for (t <- Seq("rcrash_ivf", "rcrash_pq", "rcrash_pq_vecs",
                  "rcrash_pq_meta"))
      assert(spark.sessionState.catalog.tableExists(
        org.apache.spark.sql.catalyst.TableIdentifier(t)),
        s"heal did not restore $t")
    assert(!spark.sessionState.catalog.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier("rcrash_ivf_retrainsrc")))
    assert(!spark.sessionState.catalog.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier("rcrash_pq_vecs_retrainsrc")))
    // both healed indexes hold the full corpus PLUS the new absorb
    spark.catalog.refreshTable("rcrash_ivf")
    spark.catalog.refreshTable("rcrash_pq_vecs")
    assert(spark.table("rcrash_ivf").select("nid").distinct().count() == 41L)
    assert(spark.table("rcrash_pq_vecs").select("nid").distinct().count() == 41L)
    // and both serve: the absorbed vector is findable through each
    val q = Seq((9000L, highVec(0L))).toDF("vec_id", "embedding")
    assert(Similarity.ivfQuery(spark, "rcrash_ivf", q, "vec_id",
        "embedding", 1, probeFrac = 1.0)
      .select("nid").as[Long].head() == 200L)
    assert(ProductQuant.ivfPqQuery(spark, "rcrash_pq", q, "vec_id",
        "embedding", 1, probeFrac = 1.0, refineK = 64)
      .select("nid").as[Long].head() == 200L)
  }

  test("embedding replayed epoch is effectively-once across both indexes") {
    val corpus = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    graft.operators.Similarity.lshIndexBuild(corpus,
      "vec_id", "embedding", "replay_spec_lsh")
    graft.operators.Similarity.ivfBuild(corpus,
      "vec_id", "embedding", "replay_spec_ivf")

    val runs = scala.collection.mutable.ArrayBuffer[(Set[(Long, Long, String)], Set[Long])]()
    val fn = graft.streaming.RefreshLoop.embeddingBatch(
        "replay_spec_lsh", "vec_id", "embedding",
        ivfTable = Some("replay_spec_ivf")) { (dups, novel, _) =>
      runs += ((dups.select("batch_id", "match_id", "source")
          .as[(Long, Long, String)].collect().toSet,
        novel.select("vec_id").as[Long].collect().toSet))
    }
    val batch = Seq(
      (101L, Seq(1.0, 0.0, 0.0, 0.0)),
      (110L, Seq(0.0, 0.0, 0.0, 1.0))).toDF("vec_id", "embedding")

    fn(batch, 3L)
    def state(): (Set[Long], Long) = {
      spark.catalog.refreshTable("replay_spec_lsh_vecs")
      spark.catalog.refreshTable("replay_spec_ivf")
      (spark.table("replay_spec_lsh_vecs").select("id").as[Long].collect().toSet,
        spark.table("replay_spec_ivf").count())
    }
    val after1 = state()
    assert(after1._1 == Set(1L, 2L, 110L))
    fn(batch, 3L)
    assert(state() == after1, "replay must not grow either index")
    assert(runs(1) == runs(0),
      s"replayed epoch outputs diverged: ${runs(1)} vs ${runs(0)}")
  }

  test("lm twin: admitted docs absorbed into the bigram model, " +
       "grown ≡ whole-built, replay effectively-once, crash repaired") {
    import graft.operators.LangModel
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about spark query engines today"))
      .toDF("doc_id", "text")
    Dedup.minhashIndexBuild(base, "text", "doc_id", "lmtw_idx")
    LangModel.train(base, "doc_id", "text", "lmtw_lm")

    val fn = RefreshLoop.minhashBatch("lmtw_idx", "text", "doc_id",
      threshold = 0.3, lmTable = Some("lmtw_lm")) { (_, _, _) => }
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog"), // dup
      (110L, "entirely novel content that matches nothing else here"))
      .toDF("doc_id", "text")
    fn(batch, 2L)

    val probe = Seq((1L, "the quick fox"), (2L, "entirely novel content"))
      .toDF("doc_id", "text")
    def scores(t: String): Seq[(Long, Long, Long)] = {
      Seq(t, s"${t}_vocab").foreach(x => spark.catalog.refreshTable(x))
      LangModel.score(spark, t, probe, "doc_id", "text")
        .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    }
    // grown ≡ whole-built on base + ADMITTED only (the dup stayed out)
    LangModel.train(base.unionByName(batch.filter($"doc_id" === 110L)),
      "doc_id", "text", "lmtw_oracle")
    val grown = scores("lmtw_lm")
    assert(grown == scores("lmtw_oracle"),
      "loop-grown LM diverges from whole-built")
    // replay of the committed epoch: counts unchanged
    fn(batch, 2L)
    assert(scores("lmtw_lm") == grown, "replay double-counted LM deltas")

    // crash state of epoch 7: decision recorded, ONE delta row landed,
    // vocab partially landed — replay must complete without doubling
    import graft.operators.BucketedJoin
    BucketedJoin.appendBucketed(
      Seq((7L, "novel", Some(300L)), (7L, "noveldone", None))
        .toDF("epoch", "phase", "id"),
      "lmtw_idx_epochs", "epoch", defaultBuckets = 1)
    BucketedJoin.appendBucketed(
      Seq(("fresh", "words", 1L, 7L)).toDF("w1", "w2", "c", "epoch"),
      "lmtw_lm", "w1")
    // partial vocab landing in the counted-delta schema (one of the
    // batch's word-occurrence rows made it, no stats row did)
    BucketedJoin.appendBucketed(
      Seq(("fresh", 1L, 7L)).toDF("w", "c", "epoch"), "lmtw_lm_vocab", "w")
    val batch2 = Seq((300L, "fresh words appear here now"))
      .toDF("doc_id", "text")
    fn(batch2, 7L)
    LangModel.train(
      base.unionByName(batch.filter($"doc_id" === 110L))
        .unionByName(batch2),
      "doc_id", "text", "lmtw_oracle2")
    assert(scores("lmtw_lm") == scores("lmtw_oracle2"),
      "repaired LM diverges from whole-built")
    spark.catalog.refreshTable("lmtw_lm")
    assert(spark.table("lmtw_lm")
      .filter($"w1" === "fresh" && $"w2" === "words").count() == 1,
      "partial delta row duplicated by the repair")
  }

  test("sharded twins: loop-routed shard indexes serve ≡ one whole index, " +
       "routing doc-disjoint, replay effectively-once") {
    import graft.operators.{LangModel, Retrieval}
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about spark query engines today"),
      (3L, "a third base document with its own unique words inside"),
      (4L, "yet another base document full of separate vocabulary"))
      .toDF("doc_id", "text")
    Dedup.minhashIndexBuild(base, "text", "doc_id", "shtw_idx")
    // shard the BASE corpus by the loop's own router so the standing
    // shards start consistent with where the loop will append
    val nSh = 2
    val bmS = (0 until nSh).map { i =>
      val t = s"shtw_bm$i"
      Retrieval.bm25Build(
        base.filter(RefreshLoop.shardOf($"doc_id", nSh) === i),
        "doc_id", "text", t)
      t
    }
    val lmS = (0 until nSh).map { i =>
      val t = s"shtw_lm$i"
      LangModel.train(
        base.filter(RefreshLoop.shardOf($"doc_id", nSh) === i),
        "doc_id", "text", t)
      t
    }
    val fn = RefreshLoop.minhashBatch("shtw_idx", "text", "doc_id",
      threshold = 0.3, bm25Shards = Some(bmS), lmShards = Some(lmS)) {
      (_, _, _) => }
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog"), // dup
      (110L, "entirely novel content that matches nothing else here"),
      (111L, "more admitted text that lands in some shard too"))
      .toDF("doc_id", "text")
    fn(batch, 2L)

    val admitted = base.unionByName(batch.filter($"doc_id" =!= 101L))
    def refresh(ts: Seq[String], suffixes: Seq[String]): Unit =
      for (t <- ts; s <- suffixes)
        if (spark.sessionState.catalog.tableExists(
          org.apache.spark.sql.catalyst.TableIdentifier(t + s)))
          spark.catalog.refreshTable(t + s)
    refresh(bmS, Seq("", "_terms", "_stats"))
    refresh(lmS, Seq("", "_vocab", "_stats"))

    // routing is doc-disjoint and matches the declared router
    for (i <- 0 until nSh) {
      val ids = spark.table(bmS(i)).select($"doc_id").distinct()
        .as[Long].collect().toSet
      val expect = admitted
        .filter(RefreshLoop.shardOf($"doc_id", nSh) === i)
        .select($"doc_id").as[Long].collect().toSet
      assert(ids == expect, s"shard $i holds the wrong docs")
    }

    // sharded serving over the loop-grown shards ≡ one index built
    // whole on base + admitted
    Retrieval.bm25Build(admitted, "doc_id", "text", "shtw_bm_oracle")
    val q = Seq((1L, "entirely novel content"), (2L, "base document"))
      .toDF("qid", "qtext")
    def brows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq
    val grown = brows(Retrieval.bm25ShardedQuery(spark, bmS, q,
      "qid", "qtext", 3))
    assert(grown === brows(Retrieval.bm25Query(spark, "shtw_bm_oracle",
      q, "qid", "qtext", 3)),
      "loop-grown sharded BM25 diverges from whole-built")
    LangModel.train(admitted, "doc_id", "text", "shtw_lm_oracle")
    val probe = Seq((1L, "entirely novel content"), (2L, "quick brown fox"))
      .toDF("doc_id", "text")
    def lrows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").as[(Long, Long, Long)].collect().toSeq
    val lmGrown = lrows(LangModel.scoreSharded(spark, lmS, probe,
      "doc_id", "text"))
    assert(lmGrown === lrows(LangModel.score(spark, "shtw_lm_oracle",
      probe, "doc_id", "text")),
      "loop-grown sharded LM diverges from whole-trained")

    // replay of the committed epoch: nothing doubles anywhere
    fn(batch, 2L)
    refresh(bmS, Seq("", "_terms", "_stats"))
    refresh(lmS, Seq("", "_vocab", "_stats"))
    assert(brows(Retrieval.bm25ShardedQuery(spark, bmS, q,
      "qid", "qtext", 3)) === grown, "replay changed sharded BM25 scores")
    assert(lrows(LangModel.scoreSharded(spark, lmS, probe,
      "doc_id", "text")) === lmGrown, "replay changed sharded LM scores")
  }

  test("sharded vector twins: loop-routed IVF/IVFPQ shards serve ≡ whole-built, " +
       "routing doc-disjoint, replay effectively-once, crash mid-absorb repaired") {
    import graft.operators.{BucketedJoin, ProductQuant, Similarity}
    def mkVecs(rows: Seq[(Long, Seq[Double])]) = rows.toDF("vec_id", "embedding")
    def clustered(i: Long): Seq[Double] = {
      val c = (i % 4).toInt
      val base = Array.fill(8)(0.05)
      base(c * 2) = 1.0; base(c * 2 + 1) = 0.7
      Array.tabulate(8)(j => base(j) + 0.01 * (((i * 31 + j * 7) % 11) - 5)).toSeq
    }
    val v110 = Seq(1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0)
    val v111 = Seq(1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0)
    val v112 = Seq(-1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.3)
    val base = mkVecs((0L until 40L).map(i => (i, clustered(i))))
    Similarity.lshIndexBuild(base, "vec_id", "embedding", "shvec_lsh")
    // standing shards start consistent with where the loop will route
    val nSh = 2
    def slice(df: org.apache.spark.sql.DataFrame, i: Int) =
      df.filter(RefreshLoop.shardOf($"vec_id", nSh) === i)
    val ivfS = (0 until nSh).map { i =>
      val t = s"shvec_ivf$i"
      Similarity.ivfBuild(slice(base, i), "vec_id", "embedding", t,
        nlist = 4, buckets = 2)
      t
    }
    val pqS = (0 until nSh).map { i =>
      val t = s"shvec_pq$i"
      ProductQuant.ivfPqBuild(slice(base, i), "vec_id", "embedding", t,
        m = 2, ksub = 4, nlist = 4, buckets = 2)
      t
    }
    val fn = RefreshLoop.embeddingBatch("shvec_lsh", "vec_id", "embedding",
      ivfShards = Some(ivfS), pqShards = Some(pqS)) { (_, _, _) => }
    // epoch 2: an exact dup of corpus vec 1 plus two novel directions
    val batch = mkVecs(Seq((101L, clustered(1L)), (110L, v110), (111L, v111)))
    fn(batch, 2L)

    val admitted = base.unionByName(mkVecs(Seq((110L, v110), (111L, v111))))
    def refresh(ts: Seq[String], suffixes: Seq[String]): Unit =
      for (t <- ts; s <- suffixes)
        if (spark.sessionState.catalog.tableExists(
          org.apache.spark.sql.catalyst.TableIdentifier(t + s)))
          spark.catalog.refreshTable(t + s)
    refresh(ivfS, Seq("", "_cents", "_stats"))
    refresh(pqS, Seq("", "_vecs", "_cents", "_pq", "_meta", "_stats"))

    // routing is doc-disjoint and matches the declared router — on the
    // IVF lists (multi-assigned: distinct nids) and the PQ raw tables
    for (i <- 0 until nSh) {
      val expect = slice(admitted, i).select($"vec_id").as[Long]
        .collect().toSet
      assert(spark.table(ivfS(i)).select($"nid").distinct()
        .as[Long].collect().toSet == expect,
        s"IVF shard $i holds the wrong vectors")
      assert(spark.table(s"${pqS(i)}_vecs").select($"nid").distinct()
        .as[Long].collect().toSet == expect,
        s"PQ shard $i raw table holds the wrong vectors")
    }

    // loop-grown sharded serving ≡ one index built whole on admitted:
    // probeFrac = 1.0 makes IVF exact per shard and the merge exact;
    // refineK covering the corpus makes IVFPQ reduce to exact cosine
    val queries = base.filter($"vec_id" % 10 === 3)
    def irows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "rank").orderBy("qid", "rank")
        .as[(Long, Long, Int)].collect().toSeq
    Similarity.ivfBuild(admitted, "vec_id", "embedding",
      "shvec_ivf_oracle", nlist = 6, buckets = 2)
    val ivfGrown = irows(Similarity.ivfShardedQuery(spark, ivfS, queries,
      "vec_id", "embedding", 3, probeFrac = 1.0))
    assert(ivfGrown === irows(Similarity.ivfQuery(spark, "shvec_ivf_oracle",
      queries, "vec_id", "embedding", 3, probeFrac = 1.0)),
      "loop-grown sharded IVF diverges from whole-built")
    ProductQuant.ivfPqBuild(admitted, "vec_id", "embedding",
      "shvec_pq_oracle", m = 2, ksub = 4, nlist = 6, buckets = 2)
    val pqGrown = irows(ProductQuant.ivfPqShardedQuery(spark, pqS, queries,
      "vec_id", "embedding", 3, probeFrac = 1.0, refineK = 64))
    assert(pqGrown === irows(ProductQuant.ivfPqQuery(spark,
      "shvec_pq_oracle", queries, "vec_id", "embedding", 3,
      probeFrac = 1.0, refineK = 64)),
      "loop-grown sharded IVFPQ diverges from whole-built")

    // replay of the committed epoch: no shard table grows, results fixed
    val counts = (ivfS.map(spark.table(_).count()),
      pqS.map(t => (spark.table(t).count(), spark.table(s"${t}_vecs").count())))
    fn(batch, 2L)
    refresh(ivfS, Seq(""))
    refresh(pqS, Seq("", "_vecs"))
    assert((ivfS.map(spark.table(_).count()),
      pqS.map(t => (spark.table(t).count(),
        spark.table(s"${t}_vecs").count()))) == counts,
      "replayed epoch grew a shard index")
    assert(irows(Similarity.ivfShardedQuery(spark, ivfS, queries,
      "vec_id", "embedding", 3, probeFrac = 1.0)) === ivfGrown,
      "replay changed sharded IVF results")

    // crash mid-absorb at epoch 3: decision recorded, the routed PQ
    // shard's raw append landed, nothing else did — the replay must
    // complete every shard append exactly once
    val s112 = Seq(112L).toDF("id")
      .select(RefreshLoop.shardOf($"id", nSh)).head().getLong(0).toInt
    BucketedJoin.appendBucketed(
      Seq((3L, "novel", Some(112L)), (3L, "noveldone", None))
        .toDF("epoch", "phase", "id"),
      "shvec_lsh_epochs", "epoch", defaultBuckets = 1)
    BucketedJoin.appendBucketed(
      mkVecs(Seq((112L, v112))).select(col("vec_id").as("nid"),
        col("embedding").cast("array<double>").as("nvec")),
      s"${pqS(s112)}_vecs", "nid")
    fn(mkVecs(Seq((112L, v112))), 3L)
    refresh(ivfS, Seq(""))
    refresh(pqS, Seq("", "_vecs"))
    assert(spark.table(s"${pqS(s112)}_vecs").filter($"nid" === 112L)
      .count() == 1, "repair duplicated the partially-landed raw row")
    val codeRows = spark.table(pqS(s112)).filter($"nid" === 112L)
    assert(codeRows.count() >= 1 &&
      codeRows.count() == codeRows.select("cid").distinct().count(),
      "repair did not complete the PQ code rows exactly once per list")
    val ivfRows = spark.table(ivfS(s112)).filter($"nid" === 112L)
    assert(ivfRows.count() >= 1 &&
      ivfRows.count() == ivfRows.select("cid").distinct().count(),
      "repair did not complete the IVF list rows exactly once per list")
    // the OTHER shard stayed untouched by 112
    val other = 1 - s112
    assert(spark.table(ivfS(other)).filter($"nid" === 112L).count() == 0 &&
      spark.table(s"${pqS(other)}_vecs").filter($"nid" === 112L).count() == 0,
      "the crash-repair epoch leaked the vector into the wrong shard")
  }

  test("OPQ family under the loop: rotated pqShards absorb with the " +
       "FROZEN rotation, grown ≡ whole-built OPQ, _rot tables untouched") {
    import graft.operators.{ProductQuant, Similarity}
    def mkVecs(rows: Seq[(Long, Seq[Double])]) = rows.toDF("vec_id", "embedding")
    def clustered(i: Long): Seq[Double] = {
      val c = (i % 4).toInt
      val base = Array.fill(8)(0.05)
      base(c * 2) = 1.0; base(c * 2 + 1) = 0.7
      Array.tabulate(8)(j => base(j) + 0.01 * (((i * 31 + j * 7) % 11) - 5)).toSeq
    }
    val v110 = Seq(1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0)
    val v111 = Seq(1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0)
    val base = mkVecs((0L until 40L).map(i => (i, clustered(i))))
    Similarity.lshIndexBuild(base, "vec_id", "embedding", "opql_lsh")
    val nSh = 2
    def slice(df: org.apache.spark.sql.DataFrame, i: Int) =
      df.filter(RefreshLoop.shardOf($"vec_id", nSh) === i)
    val pqS = (0 until nSh).map { i =>
      val t = s"opql_pq$i"
      ProductQuant.ivfPqBuild(slice(base, i), "vec_id", "embedding", t,
        m = 2, ksub = 4, nlist = 4, buckets = 2, opq = true)
      t
    }
    def rotRows() = pqS.map(t => spark.table(s"${t}_rot")
      .as[(Int, Seq[Double])].head())
    val rotBefore = rotRows()
    val fn = RefreshLoop.embeddingBatch("opql_lsh", "vec_id", "embedding",
      pqShards = Some(pqS)) { (_, _, _) => }
    // epoch 2: an exact dup of corpus vec 1 plus two novel directions —
    // the absorb must route through ivfPqAppend's STANDING-rotation path
    fn(mkVecs(Seq((201L, clustered(1L)), (110L, v110), (111L, v111))), 2L)
    for (t <- pqS; s <- Seq("", "_vecs"))
      spark.catalog.refreshTable(t + s)
    // the frozen-quantizer contract covers the rotation: absorbs never
    // rewrite (or re-learn) _rot
    assert(rotRows() == rotBefore,
      "the loop's absorb touched a shard's OPQ rotation")
    // loop-grown rotated shards ≡ one OPQ index built whole on the
    // admitted corpus, at covering dials (refine is raw-exact, so the
    // equality holds across DIFFERENT rotations — build vs grown)
    val admitted = base.unionByName(mkVecs(Seq((110L, v110), (111L, v111))))
    ProductQuant.ivfPqBuild(admitted, "vec_id", "embedding",
      "opql_pq_oracle", m = 2, ksub = 4, nlist = 6, buckets = 2,
      opq = true)
    val queries = base.filter($"vec_id" % 10 === 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "rank").orderBy("qid", "rank")
        .as[(Long, Long, Int)].collect().toSeq
    assert(rows(ProductQuant.ivfPqShardedQuery(spark, pqS, queries,
        "vec_id", "embedding", 3, probeFrac = 1.0, refineK = 64)) ===
      rows(ProductQuant.ivfPqQuery(spark, "opql_pq_oracle", queries,
        "vec_id", "embedding", 3, probeFrac = 1.0, refineK = 64)),
      "loop-grown rotated shards diverge from the whole-built OPQ index")
    // the novel rows landed as code rows exactly once per list, in the
    // routed shard only
    for (id <- Seq(110L, 111L)) {
      val sh = Seq(id).toDF("id")
        .select(RefreshLoop.shardOf($"id", nSh)).head().getLong(0).toInt
      val codeRows = spark.table(pqS(sh)).filter($"nid" === id)
      assert(codeRows.count() >= 1 &&
        codeRows.count() == codeRows.select("cid").distinct().count(),
        s"vector $id's code rows are missing or duplicated")
      assert(spark.table(pqS(1 - sh)).filter($"nid" === id).count() == 0,
        s"vector $id leaked into the wrong shard")
    }
  }

  test("sharded ADMISSION: the loop checks against and absorbs into a " +
       "shard family, routing doc-disjoint, replay effectively-once") {
    import graft.operators.Dedup
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about spark query engines today"),
      (3L, "a third base document with its own unique words inside"),
      (4L, "yet another base document full of separate vocabulary"))
      .toDF("doc_id", "text")
    val nSh = 2
    val idxS = (0 until nSh).map { i =>
      val t = s"shadm_$i"
      Dedup.minhashIndexBuild(
        base.filter(RefreshLoop.shardOf($"doc_id", nSh) === i),
        "text", "doc_id", t)
      t
    }
    val runs = scala.collection.mutable.ArrayBuffer[(Set[(Long, Long)], Set[Long])]()
    val fn = RefreshLoop.minhashBatch("shadm_ledger", "text", "doc_id",
      threshold = 0.3, indexShards = Some(idxS)) { (dups, novel, _) =>
      runs += ((dups.select("batch_id", "match_id")
          .as[(Long, Long)].collect().toSet,
        novel.select("doc_id").as[Long].collect().toSet))
    }
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog"), // dup of 1
      (110L, "entirely novel content that matches nothing else here"),
      (111L, "more admitted text that lands in some shard too"))
      .toDF("doc_id", "text")
    fn(batch, 2L)
    assert(runs(0)._1.contains((101L, 1L)),
      "sharded admission missed the cross-shard duplicate")
    assert(runs(0)._2 == Set(110L, 111L))
    // admitted docs routed doc-disjoint into the admission shards
    val admitted = base.unionByName(batch.filter($"doc_id" =!= 101L))
    for (i <- 0 until nSh) {
      spark.catalog.refreshTable(s"${idxS(i)}_sigs")
      val ids = spark.table(s"${idxS(i)}_sigs").select($"id")
        .as[Long].collect().toSet
      val expect = admitted
        .filter(RefreshLoop.shardOf($"doc_id", nSh) === i)
        .select($"doc_id").as[Long].collect().toSet
      assert(ids == expect, s"admission shard $i holds the wrong docs")
    }
    // replay of the committed epoch (the only epoch that can ever
    // re-fire is the LAST one): outputs reproduced, no shard grows
    val counts = idxS.map(t => (spark.table(s"${t}_sigs").count(),
      spark.table(s"${t}_bands").count()))
    fn(batch, 2L)
    idxS.foreach { t =>
      spark.catalog.refreshTable(s"${t}_sigs")
      spark.catalog.refreshTable(s"${t}_bands")
    }
    assert(idxS.map(t => (spark.table(s"${t}_sigs").count(),
      spark.table(s"${t}_bands").count())) == counts,
      "replay grew an admission shard")
    assert(runs(1)._1 == runs(0)._1 && runs(1)._2 == runs(0)._2,
      "replayed epoch outputs diverged")
    // the NEXT batch sees the absorbed docs: an exact copy of 110 dups
    fn(Seq((210L, "entirely novel content that matches nothing else here"))
      .toDF("doc_id", "text"), 3L)
    assert(runs(2)._1.contains((210L, 110L)),
      "the next epoch did not see the previous epoch's absorbed doc")
    assert(runs(2)._2.isEmpty)
  }

  test("rotating shard compaction: exactly one shard per cadence epoch, " +
       "every shard covered once per S cycles") {
    val shards = Some(Seq("s0", "s1", "s2"))
    // compactEvery = 3: compaction fires on epochs 2, 5, 8, ... — the
    // selected shard must walk the family one table per firing
    val picked = Seq(2L, 5L, 8L, 11L, 14L, 17L)
      .map(e => RefreshLoop.rotateShard(shards, e, 3))
    assert(picked.forall(_.size == 1), "must fold exactly one shard")
    assert(picked.take(3).flatten.toSet == Set("s0", "s1", "s2"),
      s"three consecutive firings must cover the family: $picked")
    assert(picked.drop(3) == picked.take(3), "rotation must cycle")
    assert(RefreshLoop.rotateShard(None, 2L, 3).isEmpty)
    assert(RefreshLoop.rotateShard(Some(Nil), 2L, 3).isEmpty)
  }

  test("online reshard (BM25 family): split applies at the next epoch " +
       "boundary, repair replay defers the swap, merge shrinks back, " +
       "grown family ≡ whole-built throughout") {
    import graft.operators.Retrieval
    import graft.streaming.ShardFamily
    val base = Seq(
      (1L, "alpha beta gamma delta words about streams"),
      (2L, "epsilon zeta eta theta completely other content"),
      (3L, "iota kappa lambda mu third base document"),
      (4L, "nu xi omicron pi fourth base document entirely"))
      .toDF("doc_id", "text")
    Dedup.minhashIndexBuild(base, "text", "doc_id", "onrs_idx")
    val nSh = 2
    val bmS = (0 until nSh).map { i =>
      val t = s"onrs_bm$i"
      Retrieval.bm25Build(
        base.filter(RefreshLoop.shardOf($"doc_id", nSh) === i),
        "doc_id", "text", t)
      t
    }
    val fam = ShardFamily(ShardFamily.Bm25, bmS)
    val fn = RefreshLoop.minhashBatch("onrs_idx", "text", "doc_id",
      threshold = 0.3, bm25Family = Some(fam)) { (_, _, _) => }
    val batch2 = Seq(
      (101L, "alpha beta gamma delta words about streams"), // dup of 1
      (110L, "rho sigma tau upsilon novel admitted text one"),
      (111L, "phi chi psi omega novel admitted text two"))
      .toDF("doc_id", "text")
    fn(batch2, 2L)
    assert(fam.tables == bmS, "no request queued — family unchanged")

    // request a split of shard 0 while the stream is 'up'; it must NOT
    // apply until the next epoch boundary
    fam.requestSplit(bmS(0), "onrs_bm0a", "onrs_bm0b")
    assert(fam.hasPending && fam.tables == bmS,
      "a queued request must not move the family mid-epoch")
    val batch3 = Seq(
      (120L, "aleph bet gimel dalet more novel words here"),
      (121L, "he vav zayin het still more novel vocabulary"))
      .toDF("doc_id", "text")
    fn(batch3, 3L)
    assert(!fam.hasPending &&
      fam.tables == Seq("onrs_bm0a", "onrs_bm0b", bmS(1)),
      s"split must apply at the epoch-3 boundary, got ${fam.tables}")

    def refresh(): Unit =
      for (t <- fam.tables; s <- Seq("", "_terms", "_stats"))
        if (spark.sessionState.catalog.tableExists(
          org.apache.spark.sql.catalyst.TableIdentifier(t + s)))
          spark.catalog.refreshTable(t + s)
    refresh()
    val admitted3 = base
      .unionByName(batch2.filter($"doc_id" =!= 101L))
      .unionByName(batch3)
    // every slot holds exactly its residue class — epoch-3 docs routed
    // into the POST-SWAP 3-slot family, pre-split docs rehashed by the
    // split: no admission lost or duplicated across the swap
    for (s <- fam.slots) {
      val got = spark.table(s.table).select($"doc_id").distinct()
        .as[Long].collect().toSet
      val expect = admitted3
        .filter(RefreshLoop.shardOf($"doc_id", s.nShards) === s.shardIndex)
        .select($"doc_id").as[Long].collect().toSet
      assert(got == expect, s"slot $s holds the wrong docs")
    }
    val q = Seq((1L, "novel admitted text"), (2L, "base document"))
      .toDF("qid", "qtext")
    def brows(ts: Seq[String]) =
      Retrieval.bm25ShardedQuery(spark, ts, q, "qid", "qtext", 3)
        .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq
    Retrieval.bm25Build(admitted3, "doc_id", "text", "onrs_oracle3")
    val grown = brows(fam.tables)
    assert(grown === Retrieval.bm25Query(spark, "onrs_oracle3", q,
        "qid", "qtext", 3)
      .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq,
      "post-swap family diverges from whole-built (the t40 oracle)")

    // a REPAIR replay must DEFER a queued reshard: replaying committed
    // epoch 3 (decided ⇒ repairMode) leaves the request queued and the
    // family unmoved; the next fresh epoch applies it
    fam.requestMerge("onrs_bm0a", "onrs_bm0b", "onrs_bmm")
    fn(batch3, 3L) // replay
    assert(fam.hasPending &&
      fam.tables == Seq("onrs_bm0a", "onrs_bm0b", bmS(1)),
      "a repair replay must not apply a queued reshard")
    refresh()
    assert(brows(fam.tables) === grown,
      "replay across a queued reshard changed scores")
    val batch4 = Seq((130L, "tet yod kaf lamed final novel document"))
      .toDF("doc_id", "text")
    fn(batch4, 4L)
    assert(!fam.hasPending && fam.tables == Seq(bmS(1), "onrs_bmm"),
      s"merge must apply at the epoch-4 boundary, got ${fam.tables}")
    refresh()
    val admitted4 = admitted3.unionByName(batch4)
    Retrieval.bm25Build(admitted4, "doc_id", "text", "onrs_oracle4")
    assert(brows(fam.tables) === Retrieval.bm25Query(spark, "onrs_oracle4",
        q, "qid", "qtext", 3)
      .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq,
      "post-merge family diverges from whole-built (the t42 oracle)")
  }

  test("auto-merge dial (maxShardsPerFamily): the LM family caps at a " +
       "safe boundary, repair replays skip enforcement, capped ≡ " +
       "whole-built") {
    import graft.operators.LangModel
    import graft.streaming.ShardFamily
    val base = (1L to 8L).map(i =>
      (i, s"base document number $i with shared words and token$i"))
      .toDF("doc_id", "text")
    Dedup.minhashIndexBuild(base, "text", "doc_id", "amrg_idx")
    val lmS = (0 until 4).map { i =>
      val t = s"amrg_lm$i"
      LangModel.train(
        base.filter(RefreshLoop.shardOf($"doc_id", 4) === i),
        "doc_id", "text", t)
      t
    }
    val fam = ShardFamily(ShardFamily.Lm, lmS)
    val fn = RefreshLoop.minhashBatch("amrg_idx", "text", "doc_id",
      threshold = 0.3, lmFamily = Some(fam),
      maxShardsPerFamily = Some(2)) { (_, _, _) => }
    // fresh epoch: the policy fires at entry and applies at the SAME
    // safe boundary — level-4 siblings (0,2) and (1,3) fold to level 2
    // under the deterministic `_mg` names, and THEN the batch routes
    // into the post-merge family
    val batch2 = Seq(
      (110L, "novel admitted vocabulary one entirely fresh"),
      (111L, "novel admitted vocabulary two also fresh"))
      .toDF("doc_id", "text")
    fn(batch2, 2L)
    assert(!fam.hasPending &&
      fam.tables.toSet == Set("amrg_lm0_mg", "amrg_lm1_mg"),
      s"auto-merge did not cap the family, got ${fam.tables}")
    val probe = Seq((1L, "shared words and"), (2L, "novel admitted"))
      .toDF("doc_id", "text")
    def famScores(): Seq[(Long, Long, Long)] = {
      for (t <- fam.tables; sfx <- Seq("", "_vocab"))
        if (spark.sessionState.catalog.tableExists(
          org.apache.spark.sql.catalyst.TableIdentifier(t + sfx)))
          spark.catalog.refreshTable(t + sfx)
      LangModel.scoreSharded(spark, fam.tables, probe, "doc_id", "text")
        .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    }
    val admitted2 = base.unionByName(batch2)
    LangModel.train(admitted2, "doc_id", "text", "amrg_oracle2")
    assert(famScores() == LangModel.score(spark, "amrg_oracle2", probe,
        "doc_id", "text")
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq,
      "capped family diverges from whole-built")
    // push the family over the cap again with a split request; a REPAIR
    // replay (committed epoch 2) must neither apply it nor enforce
    // lmDocs = EXACTLY the parent shard's absorbed corpus (the
    // splitShard contract — off-residue docs would leak into a child)
    fam.requestSplit("amrg_lm0_mg", "amrg_lma", "amrg_lmb",
      lmDocs = Some((admitted2.filter(
        RefreshLoop.shardOf($"doc_id", 2) === 0), "doc_id", "text")))
    fn(batch2, 2L) // replay
    assert(fam.hasPending &&
      fam.tables.toSet == Set("amrg_lm0_mg", "amrg_lm1_mg"),
      "a repair replay applied a reshard or ran the auto-merge policy")
    // next FRESH epoch: the split applies, the policy immediately folds
    // the family back under the cap at the same boundary
    val batch3 = Seq((120L, "third wave of novel text arrives"))
      .toDF("doc_id", "text")
    fn(batch3, 3L)
    assert(!fam.hasPending && fam.tables.size == 2,
      s"policy did not re-cap after the split, got ${fam.tables}")
    val admitted3 = admitted2.unionByName(batch3)
    LangModel.train(admitted3, "doc_id", "text", "amrg_oracle3")
    assert(famScores() == LangModel.score(spark, "amrg_oracle3", probe,
        "doc_id", "text")
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq,
      "re-capped family diverges from whole-built")
  }

  test("online reshard: a crash between retire and swap heals — " +
       "re-requesting a COMPLETED split applies only the slot transform") {
    import graft.operators.Retrieval
    import graft.streaming.ShardFamily
    val docs = graft.sources.Generators.randomText(spark, 60, seed = 33L,
        wordsMin = 5, wordsMax = 15, partitions = 2)
      .select(col("id").as("doc_id"), col("text"))
    val (p0, p1) = ("onrh_bm0", "onrh_bm1")
    Retrieval.bm25Build(docs.filter(RefreshLoop.shardOf($"doc_id", 2) === 0),
      "doc_id", "text", p0)
    Retrieval.bm25Build(docs.filter(RefreshLoop.shardOf($"doc_id", 2) === 1),
      "doc_id", "text", p1)
    // the split ran to completion (parent retired, marker cleared), but
    // the driver died before the family swap — a restarted operator
    // re-creates the family from the stale pre-split list and
    // re-requests the split
    Retrieval.splitShard(spark, p0, "onrh_bm0a", "onrh_bm0b", 0, 2)
    val fam = ShardFamily(ShardFamily.Bm25, Seq(p0, p1))
    fam.requestSplit(p0, "onrh_bm0a", "onrh_bm0b")
    fam.applyPending(spark)
    assert(fam.tables == Seq("onrh_bm0a", "onrh_bm0b", p1),
      "heal must apply the slot transform without re-splitting")
    val q = docs.filter($"doc_id" % 20 === 0)
      .select($"doc_id".as("qid"),
        concat_ws(" ", slice(graft.operators.TextOps.tokens(
          lower($"text")), 1, 3)).as("qtext"))
    Retrieval.bm25Build(docs, "doc_id", "text", "onrh_oracle")
    assert(Retrieval.bm25ShardedQuery(spark, fam.tables, q,
        "qid", "qtext", 3)
      .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq
      === Retrieval.bm25Query(spark, "onrh_oracle", q, "qid", "qtext", 3)
      .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq,
      "healed family diverges from whole-built")
    // a parent that is gone WITHOUT complete children fails loudly
    val fam2 = ShardFamily(ShardFamily.Bm25, Seq("onrh_ghost", p1))
    fam2.requestSplit("onrh_ghost", "onrh_gx", "onrh_gy")
    intercept[IllegalArgumentException] { fam2.applyPending(spark) }
  }

  test("online reshard (IVF family): split mid-stream, post-swap sharded " +
       "serving at full probe ≡ whole-built (the sim15 oracle)") {
    import graft.operators.Similarity
    import graft.streaming.ShardFamily
    def mkVecs(rows: Seq[(Long, Seq[Double])]) = rows.toDF("vec_id", "embedding")
    def clustered(i: Long): Seq[Double] = {
      val c = (i % 4).toInt
      val base = Array.fill(8)(0.05)
      base(c * 2) = 1.0; base(c * 2 + 1) = 0.7
      Array.tabulate(8)(j => base(j) + 0.01 * (((i * 31 + j * 7) % 11) - 5)).toSeq
    }
    val base = mkVecs((0L until 40L).map(i => (i, clustered(i))))
    Similarity.lshIndexBuild(base, "vec_id", "embedding", "onrv_lsh")
    val ivfS = (0 until 2).map { i =>
      val t = s"onrv_ivf$i"
      Similarity.ivfBuild(
        base.filter(RefreshLoop.shardOf($"vec_id", 2) === i),
        "vec_id", "embedding", t, nlist = 4, buckets = 2)
      t
    }
    val fam = ShardFamily(ShardFamily.Ivf, ivfS)
    val fn = RefreshLoop.embeddingBatch("onrv_lsh", "vec_id", "embedding",
      ivfFamily = Some(fam)) { (_, _, _) => }
    val v110 = Seq(1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0)
    val v111 = Seq(1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0)
    fn(mkVecs(Seq((101L, clustered(1L)), (110L, v110))), 2L)
    fam.requestSplit(ivfS(0), "onrv_ivf0a", "onrv_ivf0b")
    fn(mkVecs(Seq((111L, v111))), 3L)
    assert(fam.tables == Seq("onrv_ivf0a", "onrv_ivf0b", ivfS(1)),
      s"split must apply at the epoch-3 boundary, got ${fam.tables}")
    for (t <- fam.tables; s <- Seq("", "_cents", "_stats"))
      if (spark.sessionState.catalog.tableExists(
        org.apache.spark.sql.catalyst.TableIdentifier(t + s)))
        spark.catalog.refreshTable(t + s)
    val admitted = base.unionByName(mkVecs(Seq((110L, v110), (111L, v111))))
    // routing doc-disjoint per SLOT level across the swap
    for (s <- fam.slots) {
      val got = spark.table(s.table).select($"nid").distinct()
        .as[Long].collect().toSet
      val expect = admitted
        .filter(RefreshLoop.shardOf($"vec_id", s.nShards) === s.shardIndex)
        .select($"vec_id").as[Long].collect().toSet
      assert(got == expect, s"slot $s holds the wrong vectors")
    }
    val queries = base.filter($"vec_id" % 10 === 3)
    def irows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "rank").orderBy("qid", "rank")
        .as[(Long, Long, Int)].collect().toSeq
    Similarity.ivfBuild(admitted, "vec_id", "embedding", "onrv_oracle",
      nlist = 6, buckets = 2)
    assert(irows(Similarity.ivfShardedQuery(spark, fam.tables, queries,
        "vec_id", "embedding", 3, probeFrac = 1.0))
      === irows(Similarity.ivfQuery(spark, "onrv_oracle", queries,
        "vec_id", "embedding", 3, probeFrac = 1.0)),
      "post-swap IVF family diverges from whole-built at full probe")
  }
}
