package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Fusion, Retrieval, Sharding}
import graft.operators.Retrieval.MaxScoreDials

/** The bag-of-words serving core's route matrix: results must never
  * depend on the route taken. On seeded random corpora (one append and
  * tombstones on every index) each combination of
  *  - family size S ∈ {1, 3} (doc-disjoint shards),
  *  - lazy execution or grouped execution at parallelism 1 and 2,
  *  - the exact plan or MaxScore, at default dials and with forced
  *    engagement (`gateMinHeadMass = 1`, `gateCandFrac = 1.0`),
  *  - control rows within the cap or chunked over it (cap forced via
  *    `graft.maxControlRows`)
  * must return the whole-corpus [[Retrieval.bm25Query]] rows, row for
  * row. Grouped MaxScore over the cap is asserted to serve ENGAGED
  * (candidate-gated group plans), so the chunking shows as a cost
  * change only.
  */
class FamilyRouteSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._
  import TestProps.withControlCap

  /** Deterministic sampling loop, the [[PropertySpec]] form. */
  private def forAll[T](g: Gen[T], n: Int)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      body(g.pureApply(Gen.Parameters.default,
        org.scalacheck.rng.Seed(4242L + i)))
    }

  // head term aaa on every doc, bbb on about half, 1-4 rare w-terms:
  // "aaa bbb wX" queries verify at k = 3 (tiny head bound under the
  // rare term's score), the rest exercise the per-query fallbacks
  private val word = Gen.oneOf((0 until 24).map(i => s"w$i"))
  private val docGen = for {
    bbb <- Gen.oneOf(true, false)
    n <- Gen.chooseNum(1, 4)
    ws <- Gen.listOfN(n, word)
  } yield (Seq("aaa") ++ (if (bbb) Seq("bbb") else Nil) ++ ws).mkString(" ")
  private val queryGen = for {
    head <- Gen.oneOf("aaa bbb", "aaa bbb", "aaa", "bbb", "zzz aaa", "")
    n <- Gen.chooseNum(1, 2)
    ws <- Gen.listOfN(n, word)
  } yield (head +: ws).mkString(" ").trim
  private val sample = for {
    n <- Gen.chooseNum(50, 80)
    texts <- Gen.listOfN(n, docGen)
    qs <- Gen.listOfN(10, queryGen)
  } yield (texts, qs)

  private def rows(df: DataFrame) =
    df.orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq

  /** Build, append the tail batch, tombstone every fifth doc — on the
    * whole index and on each shard of a `nShards` family. */
  private def family(docs: DataFrame, tag: String, nShards: Int): Seq[String] =
    (0 until nShards).map { i =>
      val t = s"route_${tag}_s${nShards}_$i"
      def mine(df: DataFrame) =
        if (nShards == 1) df
        else df.filter(Sharding.shardOf(col("doc_id"), nShards) === i)
      val n = docs.count()
      Retrieval.bm25Build(mine(docs.filter(col("doc_id") < n - 8)),
        "doc_id", "text", t, buckets = 2)
      Retrieval.bm25Append(spark, t, mine(docs.filter(col("doc_id") >= n - 8)),
        "doc_id", "text")
      Retrieval.bm25Delete(spark, t,
        mine(docs.filter(col("doc_id") % 5 === 0)).select("doc_id"), "doc_id")
      t
    }

  private val forced = MaxScoreDials(gateMinHeadMass = 1L, gateCandFrac = 1.0)

  /** Every route of the matrix for one family, named. */
  private def routes(fam: Seq[String], q: DataFrame, k: Int)
      : Seq[(String, () => DataFrame)] =
    for {
      par <- Seq(None, Some(1), Some(2))
      ms <- Seq(None, Some(MaxScoreDials()), Some(forced))
    } yield {
      val name = s"S=${fam.size} par=$par ms=$ms"
      name -> (() => (par, ms) match {
        case (None, None) =>
          Retrieval.bm25ShardedQuery(spark, fam, q, "qid", "qtext", k)
        case (None, Some(d)) if fam.size == 1 =>
          Retrieval.bm25QueryMaxScore(spark, fam.head, q, "qid", "qtext", k,
            gateMinHeadMass = d.gateMinHeadMass, gateCandFrac = d.gateCandFrac)
        case (None, Some(d)) =>
          Retrieval.bm25ShardedQueryMaxScore(spark, fam, q, "qid", "qtext", k,
            gateMinHeadMass = d.gateMinHeadMass, gateCandFrac = d.gateCandFrac)
        case (Some(p), None) =>
          Retrieval.bm25ShardedQueryGrouped(spark, fam, q, "qid", "qtext", k,
            parallelism = p)
        case (Some(p), Some(d)) =>
          Retrieval.bm25ShardedQueryMaxScoreGrouped(spark, fam, q, "qid",
            "qtext", k, gateMinHeadMass = d.gateMinHeadMass,
            gateCandFrac = d.gateCandFrac, parallelism = p)
      })
    }

  test("every bag-of-words route ≡ whole-index bm25Query on random " +
       "corpora (S, grouping, MaxScore dials, control-cap chunking)") {
    forAll(sample, n = 2) { case (texts, qs) =>
      val tag = System.nanoTime().toString
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text").localCheckpoint()
      val q = qs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("qid", "qtext")
      val whole = family(docs, tag, 1).head
      val k = 3
      val expected = rows(Retrieval.bm25Query(spark, whole, q, "qid",
        "qtext", k))
      assert(expected.nonEmpty)
      val families = Seq(Seq(whole), family(docs, tag, 3))
      for (fam <- families; (name, run) <- routes(fam, q, k))
        assert(rows(run()) === expected, s"in-cap route $name diverged")
      // ~25 control rows over a cap of 6: every MaxScore route chunks
      withControlCap(6) {
        for (fam <- families; (name, run) <- routes(fam, q, k))
          assert(rows(run()) === expected, s"chunked route $name diverged")
        // grouped MaxScore over the cap serves ENGAGED chunks: their
        // pass-2 group plans carry the candidate semi-join
        val probe = new java.util.concurrent.ConcurrentLinkedQueue[
          (Seq[Int], String)]()
        Retrieval.groupPlanProbe.set(probe)
        try assert(rows(Retrieval.bm25ShardedQueryMaxScoreGrouped(spark,
            families(1), q, "qid", "qtext", k, gateMinHeadMass = 1L,
            gateCandFrac = 1.0, parallelism = 2)) === expected)
        finally Retrieval.groupPlanProbe.set(null)
        assert(probe.toArray.exists(_.toString.contains("LeftSemi")),
          "grouped MaxScore over the cap did not serve an engaged chunk")
      }
    }
  }

  test("fan-out fails fast: one throwing item cancels its siblings' " +
       "jobs; the caller's job group reaches the workers' jobs") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(groups.add)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("fanout-spec", "fan-out attribution")
    try {
      assert(Retrieval.fanOut(spark, Seq(1, 2, 3), 3)(i =>
        spark.range(0, 100 * i).count()) == Seq(100L, 200L, 300L))
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        Retrieval.fanOut(spark, Seq(0, 1, 2), 3) { i =>
          if (i == 1) {
            Thread.sleep(1500) // the siblings' jobs are running by now
            throw new IllegalStateException("chunk 1 failed")
          }
          sc.setInterruptOnCancel(true)
          sc.parallelize(1 to 2, 2).map { x => Thread.sleep(120000); x }
            .count()
        }
      }
      assert(e.getMessage == "chunk 1 failed")
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (sc.statusTracker.getActiveJobIds.nonEmpty &&
             System.nanoTime() < deadline) Thread.sleep(100)
      assert(sc.statusTracker.getActiveJobIds.isEmpty,
        "sibling jobs still active after the failed fan-out")
      assert(System.nanoTime() - t0 < 60L * 1000000000L,
        "the failed fan-out waited for its siblings")
      // the caller's own properties are untouched by the workers' tags
      assert(sc.getLocalProperty("spark.jobGroup.id") == "fanout-spec")
      assert(sc.getJobTags().isEmpty)
      while (groups.size < 5 && System.nanoTime() < deadline)
        Thread.sleep(100) // listener events arrive asynchronously
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val seen = groups.asScala.toSeq
    assert(seen.size >= 5 && seen.forall(_ == "fanout-spec"),
      s"workers' jobs lost the caller's job group: $seen")
  }

  test("MaxScore dial checks reject on every route, before any read") {
    // the tables do not exist: a route that skips the checks fails on
    // the missing index instead, with another exception
    val q = Seq((1L, "aaa bbb", Array(1.0f))).toDF("qid", "qtext", "qvec")
    val fam = Seq("route_nope_0", "route_nope_1")
    for ((d, msg) <- Seq(
        MaxScoreDials(gateCandFrac = 0.0) -> "gateCandFrac must be positive",
        MaxScoreDials(gateMinHeadMass = -1L) ->
          "gateMinHeadMass must be non-negative")) {
      val calls: Seq[(String, () => DataFrame)] = Seq(
        "bm25QueryMaxScore" -> (() => Retrieval.bm25QueryMaxScore(spark,
          fam.head, q, "qid", "qtext", 3, gateMinHeadMass = d.gateMinHeadMass,
          gateCandFrac = d.gateCandFrac)),
        "bm25ShardedQueryMaxScore" -> (() =>
          Retrieval.bm25ShardedQueryMaxScore(spark, fam, q, "qid", "qtext", 3,
            gateMinHeadMass = d.gateMinHeadMass,
            gateCandFrac = d.gateCandFrac)),
        "bm25ShardedQueryMaxScoreGrouped" -> (() =>
          Retrieval.bm25ShardedQueryMaxScoreGrouped(spark, fam, q, "qid",
            "qtext", 3, gateMinHeadMass = d.gateMinHeadMass,
            gateCandFrac = d.gateCandFrac, parallelism = 2)),
        "hybridQuery" -> (() => Fusion.hybridQuery(spark, fam.head, q, "qid",
          "qtext", "qvec", 3, vecCorpus = Some(q), lexMaxScore = Some(d))),
        "hybridShardedQuery" -> (() => Fusion.hybridShardedQuery(spark, fam,
          q, "qid", "qtext", "qvec", 3, vecShards = Some(Seq(q)),
          lexMaxScore = Some(d))),
        "hybridSnippets" -> (() => Fusion.hybridSnippets(spark, fam.head, q,
          "qid", "qtext", "qvec", q, "qid", "qtext", 3, vecCorpus = Some(q),
          lexMaxScore = Some(d))),
        "hybridShardedSnippets" -> (() => Fusion.hybridShardedSnippets(spark,
          fam, q, "qid", "qtext", "qvec", q, "qid", "qtext", 3,
          vecShards = Some(Seq(q)), lexMaxScore = Some(d))))
      for ((name, call) <- calls) {
        val e = intercept[IllegalArgumentException](call())
        assert(e.getMessage.contains(msg), s"$name: ${e.getMessage}")
      }
    }
  }
}
