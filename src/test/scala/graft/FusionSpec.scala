package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Fusion, Retrieval}

class FusionSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def leg(rows: (Long, Long, Int)*) =
    rows.toSeq.toDF("qid", "id", "rank")

  /** The exact integer contribution Fusion.rrf credits one leg hit. */
  private def c(w: Double, rrfK: Int, rank: Int): Long =
    math.floor(w * 1e6 / (rrfK + rank) + 0.5).toLong

  test("rrf: hand-computed fusion of two legs, consensus beats single-leg head") {
    // leg A ranks (10, 20, 30); leg B ranks (20, 30, 40): 20 is ranked
    // 2nd+1st, 10 only 1st in A — RRF must put 20 first (consensus).
    val a = leg((1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3))
    val b = leg((1L, 20L, 1), (1L, 30L, 2), (1L, 40L, 3))
    val got = Fusion.rrf(Seq(a -> 1.0, b -> 1.0), k = 4)
      .orderBy("rnk").as[(Long, Long, Long, Int)].collect()
    val exp = Map(
      10L -> c(1.0, 60, 1),
      20L -> (c(1.0, 60, 2) + c(1.0, 60, 1)),
      30L -> (c(1.0, 60, 3) + c(1.0, 60, 2)),
      40L -> c(1.0, 60, 3))
    val want = exp.toSeq.sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, s), i) => (1L, id, s, i + 1) }
    assert(got.toSeq === want)
    assert(got.head._2 === 20L, "consensus candidate must win")
  }

  test("rrf: weights scale contributions; k truncates; rrfK honored") {
    val a = leg((7L, 1L, 1), (7L, 2L, 2))
    val b = leg((7L, 2L, 1))
    val got = Fusion.rrf(Seq(a -> 3.0, b -> 0.5), k = 1, rrfK = 10)
      .as[(Long, Long, Long, Int)].collect()
    // id 1: 3.0e6/11 = 272727.27 -> 272727; id 2: 3.0e6/12 + 0.5e6/11
    assert(got.length === 1)
    val s1 = c(3.0, 10, 1)
    val s2 = c(3.0, 10, 2) + c(0.5, 10, 1)
    val winner = if (s1 >= s2) (7L, 1L, s1, 1) else (7L, 2L, s2, 1)
    assert(got.head === winner)
    assert(s1 === 272727L)
  }

  test("rrf: ties break on id ascending; per-qid independence") {
    // two qids; within qid 1 two candidates tie exactly (same rank in
    // disjoint legs) -> lower id first
    val a = leg((1L, 5L, 1), (2L, 9L, 1))
    val b = leg((1L, 3L, 1))
    val got = Fusion.rrf(Seq(a -> 1.0, b -> 1.0), k = 5)
      .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect()
    assert(got.toSeq === Seq(
      (1L, 3L, c(1.0, 60, 1), 1), (1L, 5L, c(1.0, 60, 1), 2),
      (2L, 9L, c(1.0, 60, 1), 1)))
  }

  test("fusion weights that would break integer exactness are rejected") {
    val leg = Seq((1L, 10L, 1)).toDF("qid", "id", "rank")
    // a single huge weight (w·1e6 ≥ 2^53) would silently lose long
    // exactness through the double ranking round trip
    intercept[IllegalArgumentException] {
      graft.operators.Fusion.rrf(Seq(leg -> 1e10), k = 1)
    }
    // and so would many moderate legs summing past the bound
    val legs = Seq.fill(4)(leg -> 2.3e9)
    intercept[IllegalArgumentException] {
      graft.operators.Fusion.rrf(legs, k = 1)
    }
    // a large-but-safe weight passes
    assert(graft.operators.Fusion.rrf(Seq(leg -> 1e6), k = 1).count() == 1)
  }

  test("rrf: invalid arguments fail loudly") {
    val a = leg((1L, 1L, 1))
    intercept[IllegalArgumentException](Fusion.rrf(Seq.empty, 5))
    intercept[IllegalArgumentException](Fusion.rrf(Seq(a -> 0.0), 5))
    intercept[IllegalArgumentException](Fusion.rrf(Seq(a -> 1.0), 0))
    intercept[IllegalArgumentException](Fusion.rrf(Seq(a -> 1.0), 5, rrfK = -1))
  }

  test("hybridQuery: lexical and vector legs fuse over a standing bm25 index") {
    val corpus = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta delta"),
      (3L, "epsilon zeta eta"),
      (4L, "alpha theta iota")).toDF("doc_id", "text")
    // embeddings: 1≈2 (near-identical), 3 orthogonal-ish, 4 mid
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.1f)),
      (2L, Array(1.0f, 0.05f, 0.1f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.5f, 0.5f, 0.0f))).toDF("vec_id", "embedding")
    val table = s"fus_spec_${System.nanoTime()}"
    Retrieval.bm25Build(corpus, "doc_id", "text", table, buckets = 2)
    val q = Seq((1L, "alpha beta")).toDF("qid", "qtext")
      .join(emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")), "qid")
    val got = Fusion.hybridQuery(spark, table, q, "qid", "qtext", "qvec",
        k = 3, kPerLeg = 3, vecCorpus = Some(emb))
      .orderBy("rnk").as[(Long, Long, Long, Int)].collect()
    // doc 2 is top lexically (alpha+beta, shorter? 1 also has both) and
    // top-vector (cos(1,2) ≈ 1): it must be fused rank 1; doc 1 is the
    // query's own row — excluded from the vector leg but present in the
    // lexical one, so it still appears with a lex-only score.
    assert(got.head._2 === 2L)
    assert(got.map(_._2).contains(1L))
    // every fused score is a sum of the exact integer contributions
    val legC = (1 to 3).map(r => c(1.0, 60, r)).toSet
    got.foreach { case (_, _, s, _) =>
      val ok = legC.contains(s) ||
        legC.exists(a => legC.exists(b => a + b == s))
      assert(ok, s"fused score $s is not a sum of leg contributions")
    }
  }

  private def sleg(rows: (Long, Long, Double)*) =
    rows.toSeq.toDF("qid", "id", "score")

  test("linear: min-max normalization, degenerate legs, absent candidates") {
    // leg A scores 10/5/0 -> norms 1.0/0.5/0.0; leg B all-equal -> 1.0
    val a = sleg((1L, 10L, 10.0), (1L, 20L, 5.0), (1L, 30L, 0.0))
    val b = sleg((1L, 20L, 7.0), (1L, 40L, 7.0))
    val got = Fusion.linear(Seq(a -> 1.0, b -> 2.0), k = 4)
      .orderBy("rnk").as[(Long, Long, Long, Int)].collect()
    // contributions: A: 10->1e6, 20->5e5, 30->0; B(w=2): 20->2e6, 40->2e6
    val exp = Seq((1L, 20L, 2500000L, 1), (1L, 40L, 2000000L, 2),
      (1L, 10L, 1000000L, 3), (1L, 30L, 0L, 4))
    assert(got.toSeq === exp)
  }

  test("linear: per-qid normalization independence and tie on id") {
    val a = sleg((1L, 3L, 2.0), (1L, 9L, 1.0), (2L, 5L, 100.0), (2L, 6L, 300.0))
    val got = Fusion.linear(Seq(a -> 1.0), k = 2)
      .orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect()
    assert(got.toSeq === Seq(
      (1L, 3L, 1000000L, 1), (1L, 9L, 0L, 2),
      (2L, 6L, 1000000L, 1), (2L, 5L, 0L, 2)))
  }

  test("hybridQuery mode=linear: fuses normalized scores over the same legs") {
    val corpus = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta delta"),
      (3L, "epsilon zeta eta"),
      (4L, "alpha theta iota")).toDF("doc_id", "text")
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.1f)),
      (2L, Array(1.0f, 0.05f, 0.1f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.5f, 0.5f, 0.0f))).toDF("vec_id", "embedding")
    val table = s"fusl_spec_${System.nanoTime()}"
    Retrieval.bm25Build(corpus, "doc_id", "text", table, buckets = 2)
    val q = Seq((1L, "alpha beta")).toDF("qid", "qtext")
      .join(emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")), "qid")
    val got = Fusion.hybridQuery(spark, table, q, "qid", "qtext", "qvec",
        k = 4, kPerLeg = 3, vecCorpus = Some(emb), mode = "linear")
      .as[(Long, Long, Long, Int)].collect()
    assert(got.nonEmpty)
    // doc 2: top of both legs -> both norms 1.0 -> fused 2_000_000 exactly
    val d2 = got.find(_._2 == 2L).get
    assert(d2._3 === 2000000L)
    assert(d2._4 === 1)
    intercept[IllegalArgumentException] {
      Fusion.hybridQuery(spark, table, q, "qid", "qtext", "qvec", 4,
        vecCorpus = Some(emb), mode = "nope")
    }
  }

  test("hybridQuery: IVF-served vector leg matches the brute-force leg at full probe") {
    import graft.operators.Similarity
    val corpus = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta delta"),
      (3L, "epsilon zeta eta"),
      (4L, "alpha theta iota")).toDF("doc_id", "text")
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.1f)),
      (2L, Array(1.0f, 0.05f, 0.1f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.5f, 0.5f, 0.0f))).toDF("vec_id", "embedding")
    val bt = s"fus_ivf_bm_${System.nanoTime()}"
    val vt = s"fus_ivf_ix_${System.nanoTime()}"
    Retrieval.bm25Build(corpus, "doc_id", "text", bt, buckets = 2)
    Similarity.ivfBuild(emb, "vec_id", "embedding", vt, nlist = 2,
      buckets = 2)
    val q = Seq((1L, "alpha beta")).toDF("qid", "qtext")
      .join(emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")), "qid")
    def run(ivf: Boolean) = Fusion.hybridQuery(spark, bt, q,
        "qid", "qtext", "qvec", 4, kPerLeg = 3,
        vecIndex = if (ivf) Some(vt) else None,
        vecCorpus = if (ivf) None else Some(emb),
        probeFrac = 1.0)
      .orderBy("rnk").as[(Long, Long, Long, Int)].collect().toSeq
    // at probeFrac = 1.0 the IVF leg scans every list: identical fusion
    assert(run(ivf = true) === run(ivf = false))
  }

  test("hybridQuery: IVFPQ-served vector leg matches brute force at full probe + refine") {
    import graft.operators.ProductQuant
    val corpus = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta delta"),
      (3L, "epsilon zeta eta"),
      (4L, "alpha theta iota")).toDF("doc_id", "text")
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.1f, 0.2f)),
      (2L, Array(1.0f, 0.05f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.3f)),
      (4L, Array(0.5f, 0.5f, 0.0f, 0.1f))).toDF("vec_id", "embedding")
    val bt = s"fus_pq_bm_${System.nanoTime()}"
    val pt = s"fus_pq_ix_${System.nanoTime()}"
    Retrieval.bm25Build(corpus, "doc_id", "text", bt, buckets = 2)
    ProductQuant.ivfPqBuild(emb, "vec_id", "embedding", pt, m = 2,
      nlist = 2, buckets = 2)
    val q = Seq((1L, "alpha beta")).toDF("qid", "qtext")
      .join(emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")), "qid")
    def run(pq: Boolean) = Fusion.hybridQuery(spark, bt, q,
        "qid", "qtext", "qvec", 4, kPerLeg = 3,
        pqIndex = if (pq) Some(pt) else None,
        vecCorpus = if (pq) None else Some(emb),
        probeFrac = 1.0, refineK = 16)
      .orderBy("rnk").as[(Long, Long, Long, Int)].collect().toSeq
    // full probes + refine over every candidate: the PQ leg's exact
    // re-rank reproduces brute-force cosine ranks, so fusion is
    // identical rank-for-rank
    assert(run(pq = true) === run(pq = false))
  }

  test("hybridQuery: requires a vector leg") {
    val q = Seq((1L, "x")).toDF("qid", "qtext")
      .withColumn("qvec", array(lit(1.0f)))
    intercept[IllegalArgumentException] {
      Fusion.hybridQuery(spark, "nope", q, "qid", "qtext", "qvec", 5)
    }
  }

  test("hybridQuery: rejects any combination of two vector sources") {
    val q = Seq((1L, "x")).toDF("qid", "qtext")
      .withColumn("qvec", array(lit(1.0f)))
    val e = intercept[IllegalArgumentException] {
      Fusion.hybridQuery(spark, "nope", q, "qid", "qtext", "qvec", 5,
        pqIndex = Some("a"), vecIndex = Some("b"))
    }
    assert(e.getMessage.contains("EXACTLY ONE"))
    // standing index + brute-force corpus is ALSO ambiguous — a silent
    // preference would serve approximate results to a caller who
    // passed the exact corpus on purpose
    intercept[IllegalArgumentException] {
      Fusion.hybridQuery(spark, "nope", q, "qid", "qtext", "qvec", 5,
        vecIndex = Some("b"), vecCorpus = Some(q))
    }
  }

  test("hybridSnippets: passages attach to lexical hits, vector-only hits keep null spans") {
    val corpus = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta delta"),
      (3L, "epsilon zeta eta"),
      (4L, "alpha theta iota")).toDF("doc_id", "text")
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.1f)),
      (2L, Array(1.0f, 0.05f, 0.1f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.5f, 0.5f, 0.0f))).toDF("vec_id", "embedding")
    val table = s"fus_snip_${System.nanoTime()}"
    Retrieval.bm25Build(corpus, "doc_id", "text", table, buckets = 2,
      positions = true)
    // query vector points at doc 3 — a doc with NO lexical query term
    val q = Seq((7L, "alpha beta", Array(0.0f, 1.0f, 0.0f)))
      .toDF("qid", "qtext", "qvec")
    val got = Fusion.hybridSnippets(spark, table, q, "qid", "qtext", "qvec",
        corpus, "doc_id", "text", k = 4, context = 1, kPerLeg = 3,
        vecCorpus = Some(emb))
      .orderBy("rnk")
      .as[(Long, Long, Long, Int, Option[Long], Option[String])].collect()
    assert(got.length === 4)
    val byDoc = got.map(r => r._2 -> r).toMap
    // doc 3 was retrieved by the vector leg alone: ranked, no passage
    assert(byDoc(3L)._5.isEmpty && byDoc(3L)._6.isEmpty)
    // beta (df 2) outscores alpha (df 3): best term beta, offset 1
    assert(byDoc(1L)._5 === Some(1L))
    assert(byDoc(1L)._6 === Some("alpha beta gamma"))
    assert(byDoc(2L)._6 === Some("alpha beta delta"))
    // doc 4 carries only alpha: first occurrence 0, clamped window
    assert(byDoc(4L)._5 === Some(0L))
    assert(byDoc(4L)._6 === Some("alpha theta"))
    // the fused ranking itself is hybridQuery's, column for column
    val fused = Fusion.hybridQuery(spark, table, q, "qid", "qtext", "qvec",
        k = 4, kPerLeg = 3, vecCorpus = Some(emb))
      .orderBy("rnk").as[(Long, Long, Long, Int)].collect()
    assert(got.map(r => (r._1, r._2, r._3, r._4)).toSeq === fused.toSeq)
  }

  test("S = 1: the one-shard family ≡ the one-index entry for every " +
       "vector leg × lexical route; mergeShardTopK keeps a single leg") {
    import graft.operators.{ProductQuant, Similarity}
    val corpus = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta delta"),
      (3L, "epsilon zeta eta"),
      (4L, "alpha theta iota")).toDF("doc_id", "text")
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.1f, 0.2f)),
      (2L, Array(1.0f, 0.05f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.3f)),
      (4L, Array(0.5f, 0.5f, 0.0f, 0.1f))).toDF("vec_id", "embedding")
    val n = System.nanoTime()
    val (bt, vt, pt) = (s"fus_s1_bm_$n", s"fus_s1_ivf_$n", s"fus_s1_pq_$n")
    Retrieval.bm25Build(corpus, "doc_id", "text", bt, buckets = 2,
      positions = true)
    Similarity.ivfBuild(emb, "vec_id", "embedding", vt, nlist = 2,
      buckets = 2)
    ProductQuant.ivfPqBuild(emb, "vec_id", "embedding", pt, m = 2,
      nlist = 2, buckets = 2)
    val q = Seq((1L, "alpha beta"), (3L, "zeta alpha")).toDF("qid", "qtext")
      .join(emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        "qid")
    val forced = Retrieval.MaxScoreDials(essentialDfFrac = 0.9,
      gateMinHeadMass = 1L, gateCandFrac = 1e6)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "rnk").collect().toSeq
    for (leg <- Seq("corpus", "ivf", "pq"); ms <- Seq(None, Some(forced))) {
      def on[A](name: String, a: A) = Some(a).filter(_ => leg == name)
      val one = rows(Fusion.hybridQuery(spark, bt, q, "qid", "qtext", "qvec",
        3, kPerLeg = 3, vecIndex = on("ivf", vt), vecCorpus = on("corpus", emb),
        pqIndex = on("pq", pt), probeFrac = 1.0, lexMaxScore = ms))
      val sh = rows(Fusion.hybridShardedQuery(spark, Seq(bt), q, "qid",
        "qtext", "qvec", 3, kPerLeg = 3, vecIndexes = on("ivf", Seq(vt)),
        vecShards = on("corpus", Seq(emb)), pqIndexes = on("pq", Seq(pt)),
        probeFrac = 1.0, lexMaxScore = ms))
      assert(one.nonEmpty && sh === one, s"hybrid leg=$leg ms=$ms")
      val oneSnip = rows(Fusion.hybridSnippets(spark, bt, q, "qid", "qtext",
        "qvec", corpus, "doc_id", "text", 3, kPerLeg = 3,
        vecIndex = on("ivf", vt), vecCorpus = on("corpus", emb),
        pqIndex = on("pq", pt), probeFrac = 1.0, lexMaxScore = ms))
      val shSnip = rows(Fusion.hybridShardedSnippets(spark, Seq(bt), q, "qid",
        "qtext", "qvec", corpus, "doc_id", "text", 3, kPerLeg = 3,
        vecIndexes = on("ivf", Seq(vt)), vecShards = on("corpus", Seq(emb)),
        pqIndexes = on("pq", Seq(pt)), probeFrac = 1.0, lexMaxScore = ms))
      assert(oneSnip.exists(!_.isNullAt(5)) && shSnip === oneSnip,
        s"hybrid snippets leg=$leg ms=$ms")
    }
    val leg = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 2)
    assert(Similarity.mergeShardTopK(Seq(leg), 2).collect().toSet ===
      leg.collect().toSet)
  }

  test("hybridShardedQuery(vecShards) == hybridQuery on the union corpus") {
    val docs = spark.read.parquet(s"${SharedSpark.sfDir}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb = spark.read.parquet(s"${SharedSpark.sfDir}/embeddings.parquet")
    val q = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("qid"),
        substring(lower(col("text")), 1, 30).as("qtext"))
      .join(emb.select(col("vec_id").as("qid"),
        col("embedding").as("qvec")), "qid")
    val n = System.nanoTime()
    val (whole, s0, s1) = (s"hsh_w_$n", s"hsh_0_$n", s"hsh_1_$n")
    Retrieval.bm25Build(docs, "doc_id", "text", whole, buckets = 2)
    Retrieval.bm25Build(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", s0, buckets = 2)
    Retrieval.bm25Build(docs.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", s1, buckets = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq
    // both fusion modes: sharded legs are exact, so fused == whole
    for (mode <- Seq("rrf", "linear")) {
      val one = rows(Fusion.hybridQuery(spark, whole, q,
        "qid", "qtext", "qvec", 4, kPerLeg = 4, vecCorpus = Some(emb),
        mode = mode))
      val sh = rows(Fusion.hybridShardedQuery(spark, Seq(s0, s1), q,
        "qid", "qtext", "qvec", 4, kPerLeg = 4,
        vecShards = Some(Seq(emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 =!= 0))), mode = mode))
      assert(sh === one, s"sharded hybrid ($mode) diverged from whole")
    }
    // plan-parallel lexical leg (planPar > 0 routes through
    // bm25ShardedQueryGrouped): identical fused rows
    val one = rows(Fusion.hybridQuery(spark, whole, q,
      "qid", "qtext", "qvec", 4, kPerLeg = 4, vecCorpus = Some(emb)))
    val grouped = rows(Fusion.hybridShardedQuery(spark, Seq(s0, s1), q,
      "qid", "qtext", "qvec", 4, kPerLeg = 4,
      vecShards = Some(Seq(emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 =!= 0))), planPar = 2))
    assert(grouped === one,
      "plan-parallel lexical leg diverged from the lazy sharded hybrid")
  }

  test("hybridShardedSnippets == hybridSnippets on the union corpus") {
    val docs = spark.read.parquet(s"${SharedSpark.sfDir}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb = spark.read.parquet(s"${SharedSpark.sfDir}/embeddings.parquet")
    val q = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("qid"),
        substring(lower(col("text")), 1, 30).as("qtext"))
      .join(emb.select(col("vec_id").as("qid"),
        col("embedding").as("qvec")), "qid")
    val n = System.nanoTime()
    val (whole, s0, s1) = (s"hss_w_$n", s"hss_0_$n", s"hss_1_$n")
    Retrieval.bm25Build(docs, "doc_id", "text", whole, buckets = 2,
      positions = true)
    Retrieval.bm25Build(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", s0, buckets = 2, positions = true)
    Retrieval.bm25Build(docs.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", s1, buckets = 2, positions = true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "rnk")
        .as[(Long, Long, Long, Int, Option[Long], Option[String])]
        .collect().toSeq
    val one = rows(Fusion.hybridSnippets(spark, whole, q,
      "qid", "qtext", "qvec", docs, "doc_id", "text", 4, context = 2,
      kPerLeg = 4, vecCorpus = Some(emb)))
    val sh = rows(Fusion.hybridShardedSnippets(spark, Seq(s0, s1), q,
      "qid", "qtext", "qvec", docs, "doc_id", "text", 4, context = 2,
      kPerLeg = 4, vecShards = Some(Seq(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 =!= 0)))))
    assert(sh === one,
      "sharded hybrid snippets diverged from the whole-corpus passages")
    assert(one.nonEmpty && one.exists(_._6.isDefined),
      "fixture produced no lexical passages — the equality proved nothing")
  }

  test("lexMaxScore leg: hybrid fusion identical to the exact lexical leg") {
    val docs = spark.read.parquet(s"${SharedSpark.sfDir}/documents.parquet")
      // the t44 zzhead protocol: a guaranteed df = N head term so the
      // two-pass pruned plan (not its exact fallback) serves the leg
      .select(col("doc_id"),
        concat(col("text"), lit(" zzhead")).as("text"))
    val emb = spark.read.parquet(s"${SharedSpark.sfDir}/embeddings.parquet")
    val q = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("qid"),
        concat(substring(lower(col("text")), 1, 30), lit(" zzhead"))
          .as("qtext"))
      .join(emb.select(col("vec_id").as("qid"),
        col("embedding").as("qvec")), "qid")
    val n = System.nanoTime()
    val (whole, s0, s1) = (s"hms_w_$n", s"hms_0_$n", s"hms_1_$n")
    Retrieval.bm25Build(docs, "doc_id", "text", whole, buckets = 2)
    Retrieval.bm25Build(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", s0, buckets = 2)
    Retrieval.bm25Build(docs.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", s1, buckets = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "rnk").as[(Long, Long, Long, Int)].collect().toSeq
    val forced = Retrieval.MaxScoreDials(essentialDfFrac = 0.9,
      gateMinHeadMass = 1L, gateCandFrac = 1e6)
    // single index: MaxScore leg == exact leg through fusion, at the
    // forced dials (pruned path) AND the defaults (gate may fall back
    // per query — either branch must be invisible)
    val exact = rows(Fusion.hybridQuery(spark, whole, q,
      "qid", "qtext", "qvec", 4, kPerLeg = 4, vecCorpus = Some(emb)))
    for (dials <- Seq(forced, Retrieval.MaxScoreDials())) {
      val ms = rows(Fusion.hybridQuery(spark, whole, q,
        "qid", "qtext", "qvec", 4, kPerLeg = 4, vecCorpus = Some(emb),
        lexMaxScore = Some(dials)))
      assert(ms === exact, s"lexMaxScore($dials) changed the fusion")
    }
    // sharded: pruning and the shard split both invisible at once
    val msSharded = rows(Fusion.hybridShardedQuery(spark, Seq(s0, s1), q,
      "qid", "qtext", "qvec", 4, kPerLeg = 4,
      vecShards = Some(Seq(emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 =!= 0))),
      lexMaxScore = Some(forced)))
    assert(msSharded === exact,
      "sharded lexMaxScore fusion diverged from the whole-corpus exact")
    // planPar + lexMaxScore COMPOSE (round 18 — the former loud
    // rejection retired): the lexical leg routes through
    // bm25ShardedQueryMaxScoreGrouped, and grouping + pruning + the
    // shard split must all be invisible through the fusion arithmetic
    // at once (the t48 contract)
    val msComposed = rows(Fusion.hybridShardedQuery(spark, Seq(s0, s1), q,
      "qid", "qtext", "qvec", 4, kPerLeg = 4,
      vecShards = Some(Seq(emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 =!= 0))),
      planPar = 2, lexMaxScore = Some(forced)))
    assert(msComposed === exact,
      "composed planPar+lexMaxScore fusion diverged from the " +
        "whole-corpus exact")
  }

  test("hybridShardedQuery: argument validation fails loudly") {
    val q = Seq((1L, "x", Array(1.0f))).toDF("qid", "qtext", "qvec")
    intercept[IllegalArgumentException] {
      Fusion.hybridShardedQuery(spark, Seq(), q, "qid", "qtext", "qvec", 3,
        vecShards = Some(Seq(q)))
    }
    intercept[IllegalArgumentException] { // no vector leg
      Fusion.hybridShardedQuery(spark, Seq("t"), q, "qid", "qtext", "qvec", 3)
    }
    intercept[IllegalArgumentException] { // two standing families
      Fusion.hybridShardedQuery(spark, Seq("t"), q, "qid", "qtext", "qvec", 3,
        vecIndexes = Some(Seq("a")), pqIndexes = Some(Seq("b")))
    }
  }
}
