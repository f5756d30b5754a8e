package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._
  graft.functions.GraftFunctions.ensureRegistered(spark)

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),        // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"),      // near dup of 1
    (4L, "completely different text about spark query engines today"),
    (5L, "completely different text about spark query engines today now")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val r = Dedup.exact(docs, "text", "doc_id")
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(r(1L) == 2L)            // docs 1+2 collapse
    assert(r.keySet == Set(1L, 3L, 4L, 5L))
  }

  test("shingles produce distinct k-grams, short text yields empty") {
    val sh = Seq("a b c d").toDF("text")
      .select(Dedup.shingles(col("text"), 3).as("s")).as[Seq[String]].head()
    assert(sh.toSet == Set("a b c", "b c d"))
    val empty = Seq("a b").toDF("text")
      .select(Dedup.shingles(col("text"), 3).as("s")).as[Seq[String]].head()
    assert(empty.isEmpty)
  }

  test("ngram jaccard finds near-dup pair with exact score") {
    // doc1/doc3: 9 words → 7 shingles each; the word-8 swap changes the
    // last 2 shingles → intersection 5, union 9, jaccard 5/9
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
        k = 3, threshold = 0.3, maxShingleFreq = Int.MaxValue)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(p => (p._1, p._2))
    val p13 = pairs.find(p => p._1 == 1L && p._2 == 3L)
    assert(p13.isDefined && math.abs(p13.get._3 - 5.0 / 9) < 1e-12)
    // exact dups 1,2 have jaccard 1.0
    val p12 = pairs.find(p => p._1 == 1L && p._2 == 2L)
    assert(p12.isDefined && p12.get._3 == 1.0)
  }

  test("minhash LSH: identical docs always pair with est 1.0; near dups surface") {
    val pairs = Dedup.minhashLshPairs(docs, "text", "doc_id", threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSeq
    val p12 = pairs.find(p => p._1 == 1L && p._2 == 2L)
    assert(p12.isDefined && p12.get._3 == 1.0)
    assert(!pairs.exists(p => p._1 == 1L && p._2 == 4L))
  }

  test("incremental index: batch lookups match self-join pairs, corpus untouched") {
    Dedup.minhashIndexBuild(docs, "text", "doc_id", "dd_spec_idx")
    // a batch: one identical resubmission, one near-dup, one novel doc
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog"),    // = 1, 2
      (103L, "the quick brown fox jumps over the sleepy dog"),  // = 3 (and near 1, 2)
      (110L, "entirely novel content that matches nothing else here")
    ).toDF("doc_id", "text")
    val got = Dedup.minhashDedupAgainst(spark, "dd_spec_idx", batch,
        "text", "doc_id", threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSeq

    // identical resubmission pairs with both exact-dup corpus docs at est 1.0
    assert(got.filter(_._1 == 101L).map(m => (m._2, m._3)).toSet
      .intersect(Set((1L, 1.0), (2L, 1.0))).size == 2)
    // near-dup resubmission finds its identical source
    assert(got.exists(m => m._1 == 103L && m._2 == 3L && m._3 == 1.0))
    // novel doc matches nothing
    assert(!got.exists(_._1 == 110L))
    // and the lookup agrees with the one-shot self-join on the union:
    // every (corpus, batch) pair minhashLshPairs finds is found here too
    val union = docs.unionByName(batch)
    val expect = Dedup.minhashLshPairs(union, "text", "doc_id", threshold = 0.3)
      .filter(col("ida") <= 5L && col("idb") >= 101L)
      .select(col("idb"), col("ida")).as[(Long, Long)].collect().toSet
    assert(expect.subsetOf(got.map(m => (m._1, m._2)).toSet))
  }

  test("minhash index: no shuffle exchange over an index-table scan") {
    // the dd5 scale claim, pinned in the plan: batch rows shuffle TO the
    // bucketed band/signature layouts, the index never moves. Broadcast
    // off, else the tiny spec-scale index sides broadcast and the
    // sort-merge path this pins never runs.
    Dedup.minhashIndexBuild(docs, "text", "doc_id", "dd_spec_planidx")
    val batch = Seq((201L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val checked = Dedup.minhashDedupAgainst(spark, "dd_spec_planidx",
        batch, "text", "doc_id", threshold = 0.3)
      val plan = checked.queryExecution.executedPlan
      val offending = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.child.collectLeaves().exists(_.toString.contains("dd_spec_planidx")) => e
      }
      assert(offending.isEmpty,
        s"index-side shuffle found:\n${offending.mkString("\n")}")
      assert(plan.toString.contains("SortMergeJoin"))
      // and it still answers correctly on that plan
      assert(checked.select("corpus_id").as[Long].collect().toSet == Set(1L, 2L))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("index append: grown index answers identically to a whole-built one") {
    // whole-built reference index over all five docs
    Dedup.minhashIndexBuild(docs, "text", "doc_id", "dd_spec_whole")
    // grown index: build on 1-3, APPEND 4-5
    Dedup.minhashIndexBuild(docs.filter(col("doc_id") <= 3), "text", "doc_id",
      "dd_spec_grown")
    Dedup.minhashIndexAppend(spark, "dd_spec_grown",
      docs.filter(col("doc_id") > 3), "text", "doc_id")
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog"),
      (104L, "completely different text about spark query engines today")
    ).toDF("doc_id", "text")
    def lookup(table: String): Set[(Long, Long, Double)] =
      Dedup.minhashDedupAgainst(spark, table, batch, "text", "doc_id",
        threshold = 0.3).as[(Long, Long, Double)].collect().toSet
    val whole = lookup("dd_spec_whole")
    val grown = lookup("dd_spec_grown")
    assert(grown == whole, "append-built index diverged from whole-built")
    // 104's source (doc 4) is only reachable through the APPENDED rows
    assert(grown.exists(m => m._1 == 104L && m._2 == 4L && m._3 == 1.0))
  }

  test("minhashIndexAppend checkIds: re-appended id fails loudly") {
    Dedup.minhashIndexBuild(
      Seq((1L, "alpha beta gamma delta epsilon zeta"),
          (2L, "one two three four five six")).toDF("doc_id", "text"),
      "text", "doc_id", "mhguard_idx")
    Dedup.minhashIndexAppend(spark, "mhguard_idx",
      Seq((3L, "seven eight nine ten eleven twelve")).toDF("doc_id", "text"),
      "text", "doc_id", checkIds = true)
    val e = intercept[IllegalArgumentException](
      Dedup.minhashIndexAppend(spark, "mhguard_idx",
        Seq((2L, "edited content under an existing id here")).toDF("doc_id", "text"),
        "text", "doc_id", checkIds = true))
    assert(e.getMessage.contains("immutable") && e.getMessage.contains("2"))
    spark.catalog.refreshTable("mhguard_idx_sigs")
    assert(spark.table("mhguard_idx_sigs").count() == 3,
      "failed append must not have landed rows")
  }

  test("connected components: transitive chains merge, disjoint clusters stay apart") {
    // 1-2-3-4-5 is a pure chain (diameter 4 → several propagation
    // rounds); 10-11 is a separate pair; 20-21-22 a triangle
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L)).toDF("ida", "idb")
    val r = Dedup.connectedComponents(pairs, "ida", "idb")
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connected components: diameter-200 chain converges via star contraction") {
    // propagation alone needs 200 rounds — far past the default budget;
    // the auto-switch must contract it in O(log) star rounds
    val chain = (0 until 200).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    val r = Dedup.connectedComponents(chain, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(r.size == 201, s"expected 201 labeled nodes, got ${r.size}")
    assert(r.values.forall(_ == 0L),
      s"chain split into ${r.values.toSet.size} components")
  }

  test("connected components: star contraction equals pure propagation on a random graph") {
    val rnd = new scala.util.Random(7)
    val pairs = (0 until 300)
      .map(_ => (rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter(p => p._1 != p._2).toDF("a", "b")
    val viaProp = Dedup.connectedComponents(pairs, "a", "b",
        maxIters = 200, propagateRounds = 200)
      .as[(Long, Long)].collect().toSet
    val viaStar = Dedup.connectedComponents(pairs, "a", "b",
        maxIters = 200, propagateRounds = 0)
      .as[(Long, Long)].collect().toSet
    assert(viaStar == viaProp,
      s"disagree: ${(viaStar -- viaProp).take(5)} vs ${(viaProp -- viaStar).take(5)}")
  }

  test("connected components: reliable-checkpoint path yields identical labels") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    // exercise BOTH phases under reliable checkpoints (propagateRounds=0
    // forces the star path)
    val r = Dedup.connectedComponents(pairs, "a", "b",
        propagateRounds = 0, checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toSet
    assert(r == Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
    // the rounds actually wrote reliable checkpoints under the dir
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(wrote > 0, "no reliable checkpoint files written")
  }

  test("simhash: identical docs at hamming 0; unrelated docs don't pair") {
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 3)
      .select("ida", "idb", "hamming").as[(Long, Long, Int)].collect().toSeq
    val p12 = pairs.find(p => p._1 == 1L && p._2 == 2L)
    assert(p12.isDefined && p12.get._3 == 0)
    assert(!pairs.exists(p => p._1 == 1L && p._2 == 4L))
  }

  test("simhash banding: chunk ranges cover 64 bits; C(6,3)=20 combos") {
    val ranges = Dedup.chunkRanges(6)
    assert(ranges.map(_._2).sum == 64)
    assert(ranges == Seq((0,11),(11,11),(22,11),(33,11),(44,10),(54,10)))
    assert(Dedup.combinations(6, 3).size == 20)
    assert(Dedup.combinations(6, 3).distinct.size == 20)
    assert(Dedup.chunkRanges(4) == Seq((0,16),(16,16),(32,16),(48,16)))
  }

  test("simhash length blocking: boundary-straddling near-dups still meet") {
    // Identical-signature docs whose token counts straddle a bucket
    // boundary: "x"×7 and "x"×8 have the SAME simhash (single distinct
    // token → every bit has full margin) but blk 1 vs 2 at blockWidth=4
    // — only the ±1 neighbor probe can pair them. The far doc ("y"×36,
    // blk 9) must not become a candidate: even where its chunks happen
    // to collide, the length block separates it.
    val a = Seq.fill(7)("x").mkString(" ")   // 7 tokens → blk 1
    val b = Seq.fill(8)("x").mkString(" ")   // 8 tokens → blk 2
    val far = Seq.fill(36)("y").mkString(" ") // 36 tokens → blk 9
    val df = Seq((1L, a), (2L, b), (3L, far)).toDF("doc_id", "text")
    val cands = Dedup.simhashCandidates(df, "text", "doc_id", blockWidth = 4)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 2L)), "adjacent-bucket pair must meet via ±1 probe")
    assert(!cands.contains((1L, 3L)) && !cands.contains((2L, 3L)),
      "length blocking must separate far-length docs (their chunks also differ)")
    // blocked and unblocked agree on the near-dup pair set here
    val blockedPairs = Dedup.simhashPairs(df, "text", "doc_id", 3, 4)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    val unblocked = Dedup.simhashPairs(df, "text", "doc_id", 3, 0)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(blockedPairs == unblocked)
  }

  test("sharded simhash: union of shard passes equals the unsharded pair set") {
    val docs = (0 until 60).map { i =>
      val base = s"some document number $i with plenty of shared words inside"
      (i.toLong, if (i % 3 == 0) base else base + s" extra tail $i")
    }.toDF("doc_id", "text")
      // planted near-dups: copy with one extra token
      .unionByName((0 until 60 by 10).map(i =>
        (1000L + i, s"some document number $i with plenty of shared words inside zz"))
        .toDF("doc_id", "text"))
    val whole = Dedup.simhashCandidates(docs, "text", "doc_id", 8, 8)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(whole.nonEmpty)
    val shards = 3
    val sharded = (0 until shards).flatMap(s =>
      Dedup.simhashCandidates(docs, "text", "doc_id", 8, 8,
          shards = shards, shard = s)
        .select("ida", "idb").as[(Long, Long)].collect()).toSet
    assert(sharded == whole,
      s"missing=${(whole -- sharded).take(5)} extra=${(sharded -- whole).take(5)}")
    // shards partition the band-key space: every pass returns a strict
    // subset, and at least two passes are non-empty on this corpus
    val sizes = (0 until shards).map(s =>
      Dedup.simhashCandidates(docs, "text", "doc_id", 8, 8,
        shards = shards, shard = s).count())
    assert(sizes.sum >= whole.size && sizes.count(_ > 0) >= 2)
  }

  test("sharded minhash: union of shard passes equals the unsharded pair set") {
    val docs = (0 until 40).map { i =>
      (i.toLong, s"document $i about distributed systems and query engines " +
        s"with shared vocabulary across many entries ${i % 4}")
    }.toDF("doc_id", "text")
      .unionByName((0 until 40 by 8).map(i =>
        (500L + i, s"document $i about distributed systems and query engines " +
          s"with shared vocabulary across many entries ${i % 4}"))
        .toDF("doc_id", "text"))
    val whole = Dedup.minhashLshPairs(docs, "text", "doc_id", threshold = 0.4)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(whole.nonEmpty)
    val shards = 3
    val sharded = (0 until shards).flatMap(s =>
      Dedup.minhashLshPairs(docs, "text", "doc_id", threshold = 0.4,
          shards = shards, shard = s)
        .select("ida", "idb").as[(Long, Long)].collect()).toSet
    assert(sharded == whole,
      s"missing=${(whole -- sharded).take(5)} extra=${(sharded -- whole).take(5)}")
  }

  /** Seeded corpus: 9-word vocabulary (shingles repeat across docs),
    * lengths 0–13 words (some shorter than k), 6 exact copies, 10 near
    * copies (one word swapped, double spaces), a 4-word phrase planted
    * in exactly 5 docs and another in exactly 6.
    */
  private def jaccardCorpus(seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Array.tabulate(9)(i => s"w$i")
    def words(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.length)))
    val base = (0 until 48).map(i => (i * 3L + 1, words(rnd.nextInt(14))))
    val planted = base.zipWithIndex.map { case ((id, w), i) =>
      val extra = if (i >= 20 && i < 25) Seq("pa", "pb", "pc", "pd")
        else if (i >= 25 && i < 31) Seq("qa", "qb", "qc", "qd") else Nil
      (id, w ++ extra)
    }
    val exact = planted.take(6).map { case (id, w) => (id + 1000, w) }
    val near = planted.slice(6, 16).map { case (id, w) =>
      val v = if (w.isEmpty) w else w.updated(rnd.nextInt(w.size), vocab(rnd.nextInt(9)))
      (id + 2000, v)
    }
    rnd.shuffle(planted.map(p => (p._1, p._2.mkString(" "))) ++
      exact.map(p => (p._1, p._2.mkString(" "))) ++
      near.map(p => (p._1, p._2.mkString("  "))))
  }

  /** Plain-RDD reference from the documented semantics: a shingle is
    * kept when its (id, shingle) row count ≤ cap; i counts kept shared
    * shingles, set sizes count kept shingles; jaccard = i / (na + nb − i).
    */
  private def jaccardReference(rows: Seq[(Long, String)], k: Int, cap: Int,
                               threshold: Double): (Seq[(Long, Long, Double)], Map[Int, Int]) = {
    val sh = spark.sparkContext.parallelize(rows, 3).flatMap { case (id, t) =>
      t.split("\\s+").filter(_.nonEmpty).sliding(k).filter(_.length == k)
        .map(_.mkString(" ")).toSeq.distinct.map(_ -> id)
    }
    val freqHist = sh.map(_._1 -> 1).reduceByKey(_ + _).map(_._2 -> 1)
      .reduceByKey(_ + _).collect().toMap
    val kept = sh.groupByKey().flatMap { case (s, ids) =>
      if (ids.size <= cap) ids.map(s -> _) else Nil
    }
    val sizes = kept.map { case (_, id) => id -> 1L }.reduceByKey(_ + _)
    val inter = kept.groupByKey().flatMap { case (_, ids) =>
      val v = ids.toSeq.sorted
      for (i <- v.indices; j <- i + 1 until v.size if v(i) < v(j)) yield (v(i), v(j)) -> 1L
    }.reduceByKey(_ + _)
    val pairs = inter.map { case ((a, b), i) => a -> (b, i) }.join(sizes)
      .map { case (a, ((b, i), na)) => b -> (a, i, na) }.join(sizes)
      .map { case (b, ((a, i, na), nb)) => (a, b, i.toDouble / (na + nb - i).toDouble) }
      .filter(_._3 >= threshold).collect().toSeq.sorted
    (pairs, freqHist)
  }

  test("ngram jaccard ≡ plain RDD reference: caps {1,2,5,∞} × k {2,3}, bit-identical") {
    for (seed <- Seq(11L, 12L); k <- Seq(2, 3); cap <- Seq(1, 2, 5, Int.MaxValue)) {
      val rows = jaccardCorpus(seed)
      val df = rows.toDF("doc_id", "text").repartition(4)
      val (want, freqHist) = jaccardReference(rows, k, cap, 0.0)
      if (cap != Int.MaxValue)
        assert(freqHist.contains(cap) && freqHist.keys.exists(_ > cap),
          s"corpus must hold shingles at and above cap=$cap: $freqHist")
      val got = Dedup.ngramJaccardPairs(df, "text", "doc_id",
          k = k, threshold = 0.0, maxShingleFreq = cap)
        .as[(Long, Long, Double)].collect().toSeq.sorted
      // cap 1 keeps only single-doc shingles: no pair can share one
      assert(want.nonEmpty == (cap > 1), s"seed=$seed k=$k cap=$cap: ${want.size} pairs")
      assert(got == want, s"seed=$seed k=$k cap=$cap: " +
        s"missing=${want.diff(got).take(5)} extra=${got.diff(want).take(5)}")
      // doubles compared bit for bit, not within a tolerance
      assert(got.map(p => java.lang.Double.doubleToRawLongBits(p._3)) ==
        want.map(p => java.lang.Double.doubleToRawLongBits(p._3)))
    }
    // the threshold filter, and an int id column keeps its type
    val rows = jaccardCorpus(13L)
    val (want, _) = jaccardReference(rows, 3, 5, 0.8)
    val intDf = rows.toDF("doc_id", "text").select(col("doc_id").cast("int"), col("text"))
    val got = Dedup.ngramJaccardPairs(intDf, "text", "doc_id",
      k = 3, threshold = 0.8, maxShingleFreq = 5)
    assert(got.schema.map(_.dataType.simpleString) == Seq("int", "int", "double"))
    assert(got.as[(Int, Int, Double)].collect().toSeq.sorted
      .map(p => (p._1.toLong, p._2.toLong, p._3)) == want)
  }

  test("hot-shingle cap drops high-frequency shingles from candidates") {
    // 3 docs sharing one hot shingle; cap=2 suppresses it entirely
    val hot = Seq((1L, "x y z a"), (2L, "x y z b"), (3L, "x y z c"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(hot, "text", "doc_id",
        k = 3, threshold = 0.01, maxShingleFreq = 2)
      .as[(Long, Long, Double)].collect()
    assert(pairs.isEmpty)
  }
}
