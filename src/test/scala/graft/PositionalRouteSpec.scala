package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Retrieval, Sharding}

/** The positional serving core's route matrix: phrase and NEAR results
  * must never depend on the route taken. On seeded random positional
  * corpora (one append and tombstones on every index), phrase and
  * NEAR/3 serve on family sizes S ∈ {1, 3}, lazily and grouped
  * (parallelism 1 and 2), through each candidate route forced by dials:
  *  - ungated (`gateMinPosMass = Long.MaxValue`: direct intersection);
  *  - gated, literal candidate plane (`gateMinPosMass = 0`);
  *  - gated, lazy broadcast plane (`graft.maxControlRows` low enough
  *    that the candidate bound passes 8 × the cap while the control
  *    rows still fit under it);
  *  - gated, shuffle semi-joins (`maxCandBroadcast = 0`);
  *  - control overflow (the cap below the batch's control rows).
  * Every output must equal the whole-index [[Retrieval.bm25PhraseQuery]]
  * / [[Retrieval.bm25ProximityQuery]] rows, row for row.
  */
class PositionalRouteSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._
  import TestProps.withControlCap

  /** Deterministic sampling loop, the [[PropertySpec]] form. */
  private def forAll[T](g: Gen[T], n: Int)(body: T => Unit): Unit =
    (0 until n).foreach { i =>
      body(g.pureApply(Gen.Parameters.default,
        org.scalacheck.rng.Seed(7373L + i)))
    }

  // head term aaa on nearly every doc, bbb on most, 12 rarer w-terms;
  // word order is random, so phrases match some docs and miss others
  private val tok = Gen.frequency(4 -> Gen.const("aaa"), 2 -> Gen.const("bbb"),
    3 -> Gen.oneOf((0 until 12).map(i => s"w$i")))
  private val docGen =
    Gen.chooseNum(3, 8).flatMap(Gen.listOfN(_, tok)).map(_.mkString(" "))
  private val queryGen = Gen.frequency(
    8 -> Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, tok)).map(_.mkString(" ")),
    1 -> Gen.const("zzz aaa"), 1 -> Gen.const(""))
  private val sample = for {
    n <- Gen.chooseNum(50, 80)
    texts <- Gen.listOfN(n, docGen)
    qs <- Gen.listOfN(10, queryGen)
  } yield (texts, qs)

  private val k = 5
  private val window = 3

  private def rows(df: DataFrame) =
    df.orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq

  private def queries(texts: Seq[String]): DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("qid", "qtext")

  /** Build with positions, append the tail batch, tombstone every fifth
    * doc — on the whole index and on each shard of a `nShards` family. */
  private def family(docs: DataFrame, tag: String, nShards: Int): Seq[String] =
    (0 until nShards).map { i =>
      val t = s"posroute_${tag}_s${nShards}_$i"
      def mine(df: DataFrame) =
        if (nShards == 1) df
        else df.filter(Sharding.shardOf(col("doc_id"), nShards) === i)
      val n = docs.count()
      Retrieval.bm25Build(mine(docs.filter(col("doc_id") < n - 8)),
        "doc_id", "text", t, buckets = 2, positions = true)
      Retrieval.bm25Append(spark, t, mine(docs.filter(col("doc_id") >= n - 8)),
        "doc_id", "text")
      Retrieval.bm25Delete(spark, t,
        mine(docs.filter(col("doc_id") % 5 === 0)).select("doc_id"), "doc_id")
      t
    }

  /** One serve of `fam` (S = 1 lazy goes through the single-index entry). */
  private def serve(fam: Seq[String], q: DataFrame, near: Boolean,
                    par: Option[Int], gate: Long, maxCand: Long): DataFrame =
    (near, par) match {
      case (false, None) if fam.size == 1 =>
        Retrieval.bm25PhraseQuery(spark, fam.head, q, "qid", "qtext", k,
          maxCandBroadcast = maxCand, gateMinPosMass = gate)
      case (false, None) =>
        Retrieval.bm25ShardedPhraseQuery(spark, fam, q, "qid", "qtext", k,
          maxCandBroadcast = maxCand, gateMinPosMass = gate)
      case (false, Some(p)) =>
        Retrieval.bm25ShardedPhraseQueryGrouped(spark, fam, q, "qid", "qtext",
          k, maxCandBroadcast = maxCand, gateMinPosMass = gate, parallelism = p)
      case (true, None) if fam.size == 1 =>
        Retrieval.bm25ProximityQuery(spark, fam.head, q, "qid", "qtext", k,
          window, maxCandBroadcast = maxCand, gateMinPosMass = gate)
      case (true, None) =>
        Retrieval.bm25ShardedProximityQuery(spark, fam, q, "qid", "qtext", k,
          window, maxCandBroadcast = maxCand, gateMinPosMass = gate)
      case (true, Some(p)) =>
        Retrieval.bm25ShardedProximityQueryGrouped(spark, fam, q, "qid",
          "qtext", k, window, maxCandBroadcast = maxCand,
          gateMinPosMass = gate, parallelism = p)
    }

  private def whole(t: String, q: DataFrame, near: Boolean) = rows(
    if (near) Retrieval.bm25ProximityQuery(spark, t, q, "qid", "qtext", k, window)
    else Retrieval.bm25PhraseQuery(spark, t, q, "qid", "qtext", k))

  /** Σ over the queries of the rarest term's raw df in shard `t` — the
    * candidate bound the gated probe derives from its control rows. */
  private def candBound(t: String, texts: Seq[String]): Long = {
    val df = spark.table(s"${t}_terms").groupBy("term").agg(sum("df"))
      .as[(String, Long)].collect().toMap
    texts.map(_.split(" ").filter(_.nonEmpty).distinct)
      .filter(_.nonEmpty).map(_.map(df.getOrElse(_, 0L)).min).sum
  }

  test("every phrase/NEAR route ≡ the whole-index rows on random corpora " +
       "(S, grouping, ungated, literal, lazy broadcast, shuffle, overflow)") {
    val t0 = System.nanoTime()
    forAll(sample, n = 2) { case (texts, qs) =>
      val tag = System.nanoTime().toString
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text").localCheckpoint()
      val wholeT = family(docs, tag, 1).head
      val families = Seq(Seq(wholeT), family(docs, tag, 3))
      // all-head batch for the lazy broadcast plane: one control row per
      // query, and every shard's rarest df is far above 8
      val headTexts = Seq("aaa", "aaa", "aaa", "bbb", "aaa aaa")
      val headCap = headTexts.size
      for (t <- families.flatten)
        assert(candBound(t, headTexts) > 8L * headCap,
          s"head batch cannot force the lazy broadcast plane on $t")
      val q = queries(qs)
      val qHead = queries(headTexts)
      assert(qs.map(_.split(" ").filter(_.nonEmpty).distinct.length).sum > 2,
        "the batch cannot overflow a control cap of 2")
      // (route, all-head batch?, control cap, gateMinPosMass,
      // maxCandBroadcast)
      val routes = Seq(
        ("ungated", false, None, Long.MaxValue, 4L << 20),
        ("literal plane", false, None, 0L, 4L << 20),
        ("lazy broadcast plane", true, Some(headCap), 0L, 4L << 20),
        ("shuffle semi-joins", false, None, 0L, 0L),
        ("control overflow", false, Some(2), 1L << 22, 4L << 20))
      for (near <- Seq(false, true)) {
        val expected = Seq(false, true).map(h =>
          h -> whole(wholeT, if (h) qHead else q, near)).toMap
        assert(expected.values.forall(_.nonEmpty))
        for ((route, head, cap, gate, maxCand) <- routes; fam <- families;
             par <- Seq(None, Some(1), Some(2))
             if fam.size > 1 || par != Some(1)) {
          def run() =
            rows(serve(fam, if (head) qHead else q, near, par, gate, maxCand))
          val got = cap.fold(run())(withControlCap(_)(run()))
          assert(got === expected(head),
            s"${if (near) "NEAR" else "phrase"} route $route at " +
              s"S=${fam.size} par=$par diverged")
        }
      }
    }
    info(f"route matrix wall: ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  test("sharded NEAR entries reject maxPosMass <= 0 like the single index") {
    val stamp = System.nanoTime()
    val docs = Seq((1L, "red blue"), (2L, "blue red")).toDF("doc_id", "text")
    val fam = Seq(0, 1).map { i =>
      val t = s"posroute_mpm_${stamp}_$i"
      Retrieval.bm25Build(docs.filter(col("doc_id") % 2 === i), "doc_id",
        "text", t, buckets = 2, positions = true)
      t
    }
    val q = Seq((1L, "red blue")).toDF("qid", "qtext")
    val calls: Seq[() => DataFrame] = Seq(
      () => Retrieval.bm25ProximityQuery(spark, fam.head, q, "qid", "qtext",
        5, window = 2, maxPosMass = 0L),
      () => Retrieval.bm25ShardedProximityQuery(spark, fam, q, "qid", "qtext",
        5, window = 2, maxPosMass = 0L),
      () => Retrieval.bm25ShardedProximityQueryGrouped(spark, fam, q, "qid",
        "qtext", 5, window = 2, maxPosMass = 0L, parallelism = 2))
    for (call <- calls) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("maxPosMass must be positive, got 0"))
    }
  }

  test("bm25ProximitySnippets under a small control cap returns the " +
       "in-cap rows, whether or not its ranked frame fits the literal cap") {
    val t = s"posroute_snip_${System.nanoTime()}"
    val docs = (1L to 40L).map(i => (i, s"red blue w${i % 4} green red"))
      .toDF("doc_id", "text")
    Retrieval.bm25Build(docs, "doc_id", "text", t, buckets = 2,
      positions = true)
    // a cap of 6 fits each batch's 6 control rows and sets the ranked
    // literal cap to 8 × 6 = 48; k × 3 queries = 60 passes it for both
    // batches, but only the dense batch ranks more than 48 rows
    val batches = Seq(
      Seq((1L, "red blue"), (2L, "blue green"), (3L, "w1 red")), // 50 rows
      Seq((1L, "w1 red"), (2L, "w2 red"), (3L, "w3 red")))       // 30 rows
    for (batch <- batches) {
      val q = batch.toDF("qid", "qtext")
      def run() = Retrieval.bm25ProximitySnippets(spark, t, q, "qid",
          "qtext", docs, "doc_id", "text", k = 20, window = 3)
        .orderBy("qid", "rnk")
        .as[(Long, Long, Long, Int, Long, String)].collect().toSeq
      val inCap = run()
      assert(inCap.nonEmpty)
      assert(withControlCap(6)(run()) === inCap, batch)
    }
  }
}
