package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, ProductQuant, Retrieval, Similarity, Tombstones}

/** Deletion contract for every persisted index family: tombstoned ids
  * stop matching IMMEDIATELY (query-time anti-join), and the physical
  * fold leaves the index answering exactly like one REBUILT WITHOUT the
  * deleted rows — the dd6 grown≡whole-built contract, inverted.
  */
class TombstonesSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def docs(n: Int) = (0 until n).map { i =>
    val words = (0 until 8).map(j => s"w${(i * 7 + j * 3) % 40}")
    (i.toLong, words.mkString(" "))
  }.toDF("doc_id", "text")

  private def vecs(n: Int) = (0 until n).map { i =>
    val c = i % 4
    val base = Array.fill(8)(0.05)
    base(c * 2) = 1.0
    base(c * 2 + 1) = 0.7
    val jit = Array.tabulate(8)(j => 0.01 * (((i * 31 + j * 7) % 11) - 5))
    (i.toLong, base.zip(jit).map { case (a, b) => a + b })
  }.toDF("vec_id", "embedding")

  private def exists(t: String) = spark.sessionState.catalog.tableExists(
    org.apache.spark.sql.catalyst.TableIdentifier(t))

  test("Tombstones.add dedupes and is idempotent") {
    val t = "ts_add_t"
    Tombstones.clear(spark, t)
    assert(Tombstones.add(spark, t, Seq(1L, 2L, 2L).toDF("id"), "id") == 2)
    assert(Tombstones.add(spark, t, Seq(2L, 3L).toDF("id"), "id") == 1)
    assert(spark.table(s"${t}_tombstones").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L))
    Tombstones.clear(spark, t)
  }

  test("minhash: tombstoned ids stop matching; fold ≡ rebuild-without") {
    val base = docs(120)
    val table = "ts_mh_idx"
    Dedup.minhashIndexBuild(base, "text", "doc_id", table)
    // resubmit every 10th doc under a new id — identical text, so each
    // finds its source iff the source is alive in the index
    val batch = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    def selfPairs(): Set[(Long, Long)] =
      Dedup.minhashDedupAgainst(spark, table, batch, "text", "doc_id")
        .filter(col("corpus_id") + 1000L === col("batch_id"))
        .select("corpus_id", "batch_id").as[(Long, Long)].collect().toSet
    val before = selfPairs()
    assert(before == (0 until 120 by 10).map(i => (i.toLong, i + 1000L)).toSet)
    // takedown: sources divisible by 20 disappear from matches at once
    Tombstones.add(spark, table,
      base.filter(col("doc_id") % 20 === 0).select("doc_id"), "doc_id")
    val expectAfter = (0 until 120 by 10).filter(_ % 20 != 0)
      .map(i => (i.toLong, i + 1000L)).toSet
    assert(selfPairs() == expectAfter)
    // physical fold: rows gone, set cleared, answers unchanged
    Dedup.minhashFoldTombstones(spark, table)
    assert(!exists(s"${table}_tombstones"))
    assert(spark.table(s"${table}_sigs")
      .filter(col("id") % 20 === 0).count() == 0)
    assert(selfPairs() == expectAfter)
    // fold ≡ rebuild-without: an index built fresh on the retained docs
    // answers identically
    val table2 = "ts_mh_idx2"
    Dedup.minhashIndexBuild(base.filter(col("doc_id") % 20 =!= 0),
      "text", "doc_id", table2)
    val rebuilt = Dedup.minhashDedupAgainst(spark, table2, batch,
      "text", "doc_id")
      .filter(col("corpus_id") + 1000L === col("batch_id"))
      .select("corpus_id", "batch_id").as[(Long, Long)].collect().toSet
    assert(rebuilt == expectAfter)
  }

  test("lsh: tombstoned ids stop matching; fold clears physically") {
    val v = vecs(80)
    val table = "ts_lsh_idx"
    Similarity.lshIndexBuild(v, "vec_id", "embedding", table)
    val batch = v.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    def hits(): Set[Long] =
      Similarity.lshDedupAgainst(spark, table, batch, "vec_id", "embedding")
        .filter(col("corpus_id") + 1000L === col("batch_id"))
        .select("corpus_id").as[Long].collect().toSet
    assert(hits() == (0 until 80 by 10).map(_.toLong).toSet)
    Tombstones.add(spark, table,
      v.filter(col("vec_id") % 20 === 0).select("vec_id"), "vec_id")
    val expect = (0 until 80 by 10).filter(_ % 20 != 0).map(_.toLong).toSet
    assert(hits() == expect)
    Similarity.lshFoldTombstones(spark, table)
    assert(!exists(s"${table}_tombstones"))
    assert(spark.table(s"${table}_vecs")
      .filter(col("id") % 20 === 0).count() == 0)
    assert(hits() == expect)
  }

  test("ivf + ivfpq: tombstoned docs leave top-k; fold ≡ rebuild-without") {
    val v = vecs(100)
    val q = v.filter(col("vec_id") % 25 === 3)
    for ((table, build, query) <- Seq(
      ("ts_ivf_idx",
       () => Similarity.ivfBuild(v, "vec_id", "embedding", "ts_ivf_idx",
         nlist = 5, buckets = 2),
       () => Similarity.ivfQuery(spark, "ts_ivf_idx", q, "vec_id",
         "embedding", 3, probeFrac = 1.0)),
      ("ts_pq_idx",
       () => ProductQuant.ivfPqBuild(v, "vec_id", "embedding", "ts_pq_idx",
         m = 2, ksub = 4, nlist = 5, buckets = 2),
       () => ProductQuant.ivfPqQuery(spark, "ts_pq_idx", q, "vec_id",
         "embedding", 3, probeFrac = 1.0)))) {
      build()
      val del = v.filter(col("vec_id") % 4 === 0) // an entire direction cluster
      Tombstones.add(spark, table, del.select("vec_id"), "vec_id")
      val res = query().select("qid", "nid").as[(Long, Long)].collect()
      assert(res.nonEmpty && res.forall(_._2 % 4 != 0),
        s"$table returned a tombstoned id: ${res.mkString(",")}")
      // full-probe + deletions ≡ brute force over the retained corpus
      // (query 28 is itself deleted — it still queries, against the
      // index that no longer holds it)
      val retained = v.filter(col("vec_id") % 4 =!= 0)
      val exact = Similarity.bruteForceTopK(retained, q,
          "vec_id", "embedding", 3)
        .select("qid", "nid").as[(Long, Long)].collect().toSet
      assert(res.toSet == exact)
      // fold: physical rows gone, same answers
      if (table == "ts_ivf_idx") Similarity.ivfFoldTombstones(spark, table)
      else ProductQuant.ivfPqFoldTombstones(spark, table)
      assert(!exists(s"${table}_tombstones"))
      assert(spark.table(table).filter(col("nid") % 4 === 0).count() == 0)
      assert(query().select("qid", "nid")
        .as[(Long, Long)].collect().toSet == exact)
    }
  }

  test("bm25: delete corrects df/N/avgdl at query time; fold ≡ rebuild") {
    val d = docs(100)
    val table = "ts_bm_idx"
    Retrieval.bm25Build(d, "doc_id", "text", table)
    val queries = d.filter(col("doc_id") % 25 === 1)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 3)).as("qtext"))
    def run(t: String): Set[(Long, Long, Long, Int)] =
      Retrieval.bm25Query(spark, t, queries, "qid", "qtext", 5)
        .as[(Long, Long, Long, Int)].collect().toSet
    assert(Retrieval.bm25Delete(spark, table,
      d.filter(col("doc_id") % 5 === 0).select("doc_id"), "doc_id") == 20)
    val withTombs = run(table)
    assert(withTombs.nonEmpty && withTombs.forall(_._2 % 5 != 0))
    // the oracle: an index built fresh on the retained docs — scores
    // must be BIT-identical (df/N/avgdl corrections exact, not approx)
    val table2 = "ts_bm_idx2"
    Retrieval.bm25Build(d.filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", table2)
    assert(withTombs == run(table2))
    // fold: extra scan gone, set cleared, still identical
    Retrieval.bm25FoldTombstones(spark, table)
    assert(!exists(s"${table}_tombstones"))
    assert(run(table) == withTombs)
    // folded dictionary/stats match the fresh build's exactly
    def dict(t: String) = spark.table(s"${t}_terms")
      .groupBy("term").agg(sum("df").as("df"))
      .as[(String, Long)].collect().toSet
    assert(dict(table) == dict(table2))
    def stats(t: String) = spark.table(s"${t}_stats")
      .agg(sum("n_docs"), sum("dl_sum")).as[(Long, Long)].head()
    assert(stats(table) == stats(table2))
  }

  test("rebuild under a reused name clears stale tombstones (all five families)") {
    val d = docs(60)
    val v = vecs(60)
    // bm25: build → tombstone → rebuild — the new index must not
    // inherit the old index's deletions
    val bt = "ts_rb_bm"
    Retrieval.bm25Build(d, "doc_id", "text", bt)
    Tombstones.add(spark, bt, Seq(0L, 10L).toDF("id"), "id")
    Retrieval.bm25Build(d, "doc_id", "text", bt)
    assert(!exists(s"${bt}_tombstones"),
      "bm25Build left a stale tombstone set")
    val q = d.filter(col("doc_id") === 0L)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 3)).as("qtext"))
    assert(Retrieval.bm25Query(spark, bt, q, "qid", "qtext", 5)
      .select("doc_id").as[Long].collect().toSet.contains(0L),
      "a doc tombstoned under the PRIOR index is missing from the rebuild")
    // the other four families: same mechanism, assert the set is gone
    val mt = "ts_rb_mh"
    Dedup.minhashIndexBuild(d, "text", "doc_id", mt)
    Tombstones.add(spark, mt, Seq(0L).toDF("id"), "id")
    Dedup.minhashIndexBuild(d, "text", "doc_id", mt)
    assert(!exists(s"${mt}_tombstones"))
    val lt = "ts_rb_lsh"
    Similarity.lshIndexBuild(v, "vec_id", "embedding", lt)
    Tombstones.add(spark, lt, Seq(0L).toDF("id"), "id")
    Similarity.lshIndexBuild(v, "vec_id", "embedding", lt)
    assert(!exists(s"${lt}_tombstones"))
    val it = "ts_rb_ivf"
    Similarity.ivfBuild(v, "vec_id", "embedding", it, nlist = 5, buckets = 2)
    Tombstones.add(spark, it, Seq(0L).toDF("id"), "id")
    Similarity.ivfBuild(v, "vec_id", "embedding", it, nlist = 5, buckets = 2)
    assert(!exists(s"${it}_tombstones"))
    val pt = "ts_rb_pq"
    ProductQuant.ivfPqBuild(v, "vec_id", "embedding", pt,
      m = 2, ksub = 4, nlist = 5, buckets = 2)
    Tombstones.add(spark, pt, Seq(0L).toDF("id"), "id")
    ProductQuant.ivfPqBuild(v, "vec_id", "embedding", pt,
      m = 2, ksub = 4, nlist = 5, buckets = 2)
    assert(!exists(s"${pt}_tombstones"))
  }

  test("bm25 fold crash between derived rewrites and postings rewrite heals on query") {
    import graft.operators.BucketedJoin
    val d = docs(100)
    val table = "ts_fc_bm"
    Retrieval.bm25Build(d, "doc_id", "text", table)
    Retrieval.bm25Delete(spark, table,
      d.filter(col("doc_id") % 5 === 0).select("doc_id"), "doc_id")
    // hand-build bm25FoldTombstones's crash window: lock written, BOTH
    // derived tables already rewritten WITHOUT the deleted docs, the
    // postings untouched, the tombstone set still present. Serving this
    // state raw would double-subtract df/N/avgdl (the derived tables
    // exclude the docs AND the query-time correction subtracts them
    // again) — the exact scenario the foldlock exists for.
    BucketedJoin.writeBucketed(spark.range(1).toDF("locked"),
      s"${table}_foldlock", "locked", 1)
    def retained = spark.table(table).join(
      broadcast(spark.table(s"${table}_tombstones")),
      col("doc_id") === col("id"), "left_anti")
    BucketedJoin.rewriteBucketed(spark, s"${table}_terms", "term") { _ =>
      retained.groupBy("term").agg(count(lit(1)).as("df"))
    }
    BucketedJoin.rewriteBucketed(spark, s"${table}_stats", "n_docs") { _ =>
      retained.select("doc_id", "dl").distinct()
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum("dl"), lit(0L)).as("dl_sum"))
    }
    // bm25Query must complete the abandoned fold before serving
    val queries = d.filter(col("doc_id") % 25 === 1)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 3)).as("qtext"))
    val healed = Retrieval.bm25Query(spark, table, queries, "qid", "qtext", 5)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(!exists(s"${table}_foldlock"), "heal did not release the lock")
    assert(!exists(s"${table}_tombstones"), "heal did not complete the fold")
    assert(spark.table(table).filter(col("doc_id") % 5 === 0).count() == 0,
      "heal did not rewrite the postings")
    // scores bit-identical to an index rebuilt without the deleted docs
    val t2 = "ts_fc_oracle"
    Retrieval.bm25Build(d.filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", t2)
    assert(healed == Retrieval.bm25Query(spark, t2, queries,
      "qid", "qtext", 5).as[(Long, Long, Long, Int)].collect().toSet)
  }

  test("bm25 fold chaos: a kill after EVERY rewrite boundary heals to exact scores") {
    val d = docs(100)
    val retainedDocs = d.filter(col("doc_id") % 5 =!= 0)
    val queries = d.filter(col("doc_id") % 25 === 1)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 3)).as("qtext"))
    // reference: a positional index rebuilt without the deleted docs
    val oracle = "ts_chaos_oracle"
    Retrieval.bm25Build(retainedDocs, "doc_id", "text", oracle,
      positions = true)
    val refBag = Retrieval.bm25Query(spark, oracle, queries,
      "qid", "qtext", 5).as[(Long, Long, Long, Int)].collect().toSet
    val refPhrase = Retrieval.bm25PhraseQuery(spark, oracle, queries,
      "qid", "qtext", 5).as[(Long, Long, Long, Int)].collect().toSet
    assert(refBag.nonEmpty && refPhrase.nonEmpty)
    // boundaries: 0 lock, 1 _terms, 2 _stats, 3 postings, 4 _pos,
    // 5 tombstone clear — kill after each, then serve and compare
    for (b <- 0 to 5) {
      val table = s"ts_chaos_$b"
      Retrieval.bm25Build(d, "doc_id", "text", table, positions = true)
      Retrieval.bm25Delete(spark, table,
        d.filter(col("doc_id") % 5 === 0).select("doc_id"), "doc_id")
      val e = intercept[Retrieval.InjectedFoldCrash] {
        Retrieval.foldTombstonesImpl(spark, table, failAt = b)
      }
      assert(e.at == b)
      assert(exists(s"${table}_foldlock"), s"boundary $b: lock missing")
      val healedBag = Retrieval.bm25Query(spark, table, queries,
        "qid", "qtext", 5).as[(Long, Long, Long, Int)].collect().toSet
      assert(healedBag == refBag, s"boundary $b: bag scores diverge")
      assert(!exists(s"${table}_foldlock"),
        s"boundary $b: heal did not release the lock")
      assert(!exists(s"${table}_tombstones"),
        s"boundary $b: heal did not complete the fold")
      assert(spark.table(table).filter(col("doc_id") % 5 === 0).count() == 0
        && spark.table(s"${table}_pos")
          .filter(col("doc_id") % 5 === 0).count() == 0,
        s"boundary $b: physical rows survived the healed fold")
      val healedPhrase = Retrieval.bm25PhraseQuery(spark, table, queries,
        "qid", "qtext", 5).as[(Long, Long, Long, Int)].collect().toSet
      assert(healedPhrase == refPhrase, s"boundary $b: phrase diverges")
    }
  }

  // the wave chaos cases: a positional index of docs(100) folds away
  // every fifth doc, killed inside its rewrite wave; the reference is
  // the index built without those docs
  private lazy val waveQueries = docs(100).filter(col("doc_id") % 25 === 1)
    .select(col("doc_id").as("qid"),
      concat_ws(" ", slice(split(col("text"), " "), 1, 3)).as("qtext"))
  private def bag(t: String) = Retrieval.bm25Query(spark, t, waveQueries,
    "qid", "qtext", 5).as[(Long, Long, Long, Int)].collect().toSet
  private def phrase(t: String) = Retrieval.bm25PhraseQuery(spark, t,
    waveQueries, "qid", "qtext", 5).as[(Long, Long, Long, Int)].collect().toSet
  private lazy val waveRef = {
    Retrieval.bm25Build(docs(100).filter(col("doc_id") % 5 =!= 0), "doc_id",
      "text", "ts_wave_oracle", positions = true)
    val ref = (bag("ts_wave_oracle"), phrase("ts_wave_oracle"))
    assert(ref._1.nonEmpty && ref._2.nonEmpty)
    ref
  }

  /** Build `table`, delete every fifth doc and run its fold with a
    * kill after boundary `at` of table `s`'s rewrite; `killed` checks
    * the crash state (given the four tables and their pre-fold row
    * counts), then the next query must heal the fold to the reference
    * scores and leave no debris. */
  private def waveKill(table: String, s: String, at: Int)
                      (killed: (Seq[String], Seq[Long]) => Unit): Unit = {
    import graft.operators.BucketedJoin
    val (refBag, refPhrase) = waveRef
    val d = docs(100)
    val tables = Seq("", "_terms", "_stats", "_pos").map(table + _)
    Retrieval.bm25Build(d, "doc_id", "text", table, positions = true)
    Retrieval.bm25Delete(spark, table,
      d.filter(col("doc_id") % 5 === 0).select("doc_id"), "doc_id")
    val rows = tables.map(spark.table(_).count())
    val e = intercept[BucketedJoin.InjectedWaveCrash] {
      Retrieval.foldTombstonesImpl(spark, table, failAt = -1,
        failIn = Some((s, at)))
    }
    assert(e.table == table + s && e.at == at)
    assert(exists(s"${table}_tombstones") && exists(s"${table}_foldlock"))
    killed(tables, rows)
    assert(bag(table) == refBag, s"kill in '$s' at $at: bag scores diverge")
    assert(!exists(s"${table}_foldlock") && !exists(s"${table}_tombstones"),
      s"kill in '$s' at $at: heal did not complete the fold")
    assert(phrase(table) == refPhrase, s"kill in '$s' at $at: phrase diverges")
    for (t <- tables) {
      assert(!exists(s"${t}_compacting") && !exists(s"${t}_old"),
        s"kill in '$s' at $at: $t left staging debris")
      if (spark.table(t).columns.contains("doc_id"))
        assert(spark.table(t).filter(col("doc_id") % 5 === 0).count() == 0,
          s"kill in '$s' at $at: deleted rows survived in $t")
    }
  }

  test("bm25 fold stage chaos: a kill after each staged table, before any swap, heals to exact scores") {
    for ((s, i) <- Seq("_terms", "_stats", "", "_pos").zipWithIndex)
      waveKill(s"ts_stage_$i", s, at = 0) { (tables, rows) =>
        // nothing swapped: every table holds its pre-fold rows
        assert(tables.map(spark.table(_).count()) == rows,
          s"stage kill '$s': a table swapped before the wave finished")
      }
  }

  test("bm25 fold swap chaos: a kill between the renames of each swap heals to exact scores") {
    for ((s, i) <- Seq("_terms", "_stats", "", "_pos").zipWithIndex) {
      val table = s"ts_swap_$i"
      waveKill(table, s, at = 2) { (_, _) =>
        // mid-swap: the table renamed aside, its complete stage not yet
        // renamed in
        assert(!exists(table + s) && exists(s"$table${s}_compacting"),
          s"swap kill '$s': not between the renames")
      }
    }
  }

  test("fold and compaction keep the positional table's fine pages") {
    import graft.operators.BucketedJoin
    // 1,500 docs of 8 distinct terms → ~6,000 positional rows per bucket
    // at 2 buckets, well past one 2,048-row page
    val d = (0 until 1500).map { i =>
      (i.toLong, (0 until 8).map(j => s"p${(i * 13 + j * 17) % 300}")
        .mkString(" "))
    }.toDF("doc_id", "text")
    val table = "ts_pages_bm"
    Retrieval.bm25Build(d.filter(col("doc_id") < 1400), "doc_id", "text",
      table, buckets = 2, positions = true)
    val pos = s"${table}_pos"
    def pages(): Seq[(Long, Long)] = { // (file rows, largest page's rows)
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import scala.jdk.CollectionConverters._
      val conf = spark.sparkContext.hadoopConfiguration
      val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(pos))
        .location)
      loc.getFileSystem(conf).listStatus(loc).toSeq
        .filter(_.getPath.getName.endsWith(".parquet")).map { f =>
          val r = ParquetFileReader.open(
            HadoopInputFile.fromPath(f.getPath, conf))
          try {
            val blocks = r.getFooter.getBlocks.asScala.toSeq
            (blocks.map(_.getRowCount).sum, blocks.flatMap { b =>
              b.getColumns.asScala.map { c =>
                val oi = r.readOffsetIndex(c)
                (0 until oi.getPageCount).map(i =>
                  oi.getLastRowIndex(i, b.getRowCount) -
                    oi.getFirstRowIndex(i) + 1).max
              }
            }.max)
          } finally r.close()
        }
    }
    // the append lands, a compaction folds the append files, then
    // the tombstone fold rewrites every table: fine pages throughout
    Retrieval.bm25Append(spark, table, d.filter(col("doc_id") >= 1400),
      "doc_id", "text")
    BucketedJoin.compactBucketed(spark, pos, "term")
    val compacted = pages()
    assert(compacted.size == 2 && compacted.forall(_._1 > 2048),
      s"precondition: one file per bucket past one page, got $compacted")
    assert(compacted.forall(_._2 <= 2048),
      s"compaction coarsened the positional pages: $compacted")
    Retrieval.bm25Delete(spark, table,
      d.filter(col("doc_id") % 7 === 0).select("doc_id"), "doc_id")
    Retrieval.bm25FoldTombstones(spark, table)
    val folded = pages()
    assert(folded.nonEmpty && folded.exists(_._1 > 2048))
    assert(folded.forall(_._2 <= 2048),
      s"the fold coarsened the positional pages: $folded")
  }

  test("fold is idempotent and a no-op without tombstones") {
    val v = vecs(40)
    val table = "ts_noop_idx"
    Similarity.lshIndexBuild(v, "vec_id", "embedding", table)
    val before = spark.table(s"${table}_vecs").count()
    Similarity.lshFoldTombstones(spark, table) // no set: no-op
    assert(spark.table(s"${table}_vecs").count() == before)
    Tombstones.add(spark, table, Seq(1L, 3L).toDF("id"), "id")
    Similarity.lshFoldTombstones(spark, table)
    assert(spark.table(s"${table}_vecs").count() == before - 2)
    Similarity.lshFoldTombstones(spark, table) // second run: no-op
    assert(spark.table(s"${table}_vecs").count() == before - 2)
  }
}
