package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.Aggregators

/** Reference semantics: `mapreduce/lib/aggregate/UniqValueCount.java:35-108`
  * (insertion cap) and `ValueHistogram.java:55-163` (report = #distinct,
  * min/median/max/mean/stddev of per-value counts, upper median,
  * population stddev).
  */
class AggregatorsSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  test("cappedDistinct exact when under cap, capped when over") {
    val df = (1 to 100).map(i => ("g", s"v${i % 10}")).toDF("g", "v")
    val exact = df.groupBy("g")
      .agg(Aggregators.cappedDistinct(Int.MaxValue)(col("v")).as("u"))
      .select("u").as[Long].head()
    assert(exact == 10L)
    val capped = df.groupBy("g")
      .agg(Aggregators.cappedDistinct(3)(col("v")).as("u"))
      .select("u").as[Long].head()
    assert(capped == 3L)
  }

  test("cappedDistinct ignores nulls") {
    val df = Seq(("g", "a"), ("g", null), ("g", "b")).toDF("g", "v")
    val u = df.groupBy("g")
      .agg(Aggregators.cappedDistinct(Int.MaxValue)(col("v")).as("u"))
      .select("u").as[Long].head()
    assert(u == 2L)
  }

  test("valueHistogram report matches hand computation (upper median, pop stddev)") {
    // counts per value: a→4, b→2, c→1  → sorted [1,2,4]
    val vals = Seq.fill(4)("a") ++ Seq.fill(2)("b") ++ Seq("c")
    val df = vals.map(("g", _)).toDF("g", "v")
    val r = df.groupBy("g").agg(Aggregators.valueHistogram(col("v")).as("r"))
      .select("r.n_distinct", "r.min_cnt", "r.med_cnt", "r.max_cnt",
        "r.avg_cnt", "r.std_cnt")
      .as[(Long, Long, Long, Long, Double, Double)].head()
    val (nd, mn, med, mx, avg, std) = r
    assert(nd == 3L && mn == 1L && mx == 4L)
    assert(med == 2L) // upper median of [1,2,4] = index 3/2=1 → 2
    assert(math.abs(avg - 7.0 / 3) < 1e-12)
    // pop stddev of [1,2,4]: mean 7/3, var = ((1-m)^2+(2-m)^2+(4-m)^2)/3
    val m = 7.0 / 3
    val v = (math.pow(1 - m, 2) + math.pow(2 - m, 2) + math.pow(4 - m, 2)) / 3
    assert(math.abs(std - math.sqrt(v)) < 1e-12)
  }

  test("valueHistogram across partitions merges correctly") {
    val df = spark.range(0, 1000, 1, 7)
      .select(lit("g").as("g"), (col("id") % 10).cast("string").as("v"))
    val r = df.groupBy("g").agg(Aggregators.valueHistogram(col("v")).as("r"))
      .select("r.n_distinct", "r.min_cnt", "r.max_cnt").as[(Long, Long, Long)].head()
    assert(r == ((10L, 100L, 100L)))
  }

  test("valueHistogramDetail returns the full sorted frequency table") {
    val df = Seq("b", "a", "b", "c", "b", "a").toDF("v")
      .select(lit("g").as("g"), col("v"))
    val r = df.groupBy("g")
      .agg(Aggregators.valueHistogramDetail(col("v")).as("d"))
      .select("d").as[Seq[(String, Long)]].head()
    assert(r == Seq(("a", 2L), ("b", 3L), ("c", 1L)))
  }

  test("TopKByScore: order, dedup, eviction-then-duplicate, tie-break") {
    val a = Aggregators.TopKByScore(3)
    def run(vs: Seq[(Long, Double)]): Seq[(Double, Long)] =
      a.finish(vs.foldLeft(a.zero)(a.reduce))
    // order: best-first under (cos desc, nid asc); ties break by nid asc
    assert(run(Seq((5L, 0.1), (1L, 0.9), (2L, 0.9), (3L, 0.5))) ==
      Seq((0.9, 1L), (0.9, 2L), (0.5, 3L)))
    // live duplicate is skipped, not double-counted
    assert(run(Seq((1L, 0.9), (1L, 0.9), (2L, 0.5))) ==
      Seq((0.9, 1L), (0.5, 2L)))
    // eviction then duplicate: (9, 0.1) is evicted by three better
    // entries; its replayed copy must NOT re-enter
    assert(run(Seq((9L, 0.1), (1L, 0.9), (2L, 0.8), (3L, 0.7), (9L, 0.1))) ==
      Seq((0.9, 1L), (0.8, 2L), (0.7, 3L)))
    // per-nid MAX: a nid re-surfacing with a DIFFERENT score (residual
    // ADC estimates differ per list copy) upgrades its retained entry
    // in place — it never eats a second slot
    assert(run(Seq((1L, 0.5), (2L, 0.6), (1L, 0.9))) ==
      Seq((0.9, 1L), (0.6, 2L)))
    // ...and a WORSE replay of a retained nid is skipped, so the third
    // distinct nid still fits
    assert(run(Seq((1L, 0.9), (2L, 0.8), (1L, 0.7), (3L, 0.6))) ==
      Seq((0.9, 1L), (0.8, 2L), (0.6, 3L)))
    // merge path: same invariants across partial buffers, including a
    // cross-buffer different-score duplicate (1 ↦ 0.9 left, 0.4 right)
    val left = Seq((9L, 0.1), (1L, 0.9)).foldLeft(a.zero)(a.reduce)
    val right = Seq((2L, 0.8), (3L, 0.7), (9L, 0.1), (1L, 0.4))
      .foldLeft(a.zero)(a.reduce)
    assert(a.finish(a.merge(left, right)) ==
      Seq((0.9, 1L), (0.8, 2L), (0.7, 3L)))
    // agrees with the window form on a random stream (the contract the
    // ANN operators rely on): top-3 of shuffled synthetic scores
    val vs = (0L until 200L).map(i => (i, ((i * 37) % 101) / 100.0))
    val byWindow = vs.sortBy { case (n, c) => (-c, n) }.take(3)
      .map { case (n, c) => (c, n) }
    assert(run(scala.util.Random.shuffle(vs)) == byWindow)
  }

  test("native topk_score ≡ typed TopKByScore reference on a DataFrame") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // multi-group stream with duplicates and ties, shuffled across
    // partitions so partial/merge/serialize paths all run
    val rows = for {
      g <- 0L until 7L; i <- 0L until 300L
      c = ((i * 37 + g * 11) % 101) / 100.0
      copies <- 1 to (if (i % 50 == 0) 2 else 1) // planted duplicates
      // half the planted duplicates carry a DIFFERENT (worse) score —
      // the residual-ADC shape; per-nid max must keep the best copy
    } yield (g, i, if (copies == 2 && i % 100 == 0) c * 0.5 else c)
    val df = scala.util.Random.shuffle(rows).toDF("qid", "nid", "cos")
      .repartition(8)
    val native = df.groupBy("qid")
      .agg(graft.functions.GraftFunctions.topkScore(col("nid"), col("cos"), 5).as("tk"))
      .select(col("qid"), explode(col("tk")).as("e"))
      .select(col("qid"), col("e.cos"), col("e.nid"))
      .as[(Long, Double, Long)].collect().toSet
    val reference = df.groupBy("qid")
      .agg(Aggregators.topKByScore(5)(col("nid"), col("cos")).as("tk"))
      .select(col("qid"), explode(col("tk")).as("e"))
      .select(col("qid"), col("e._1"), col("e._2"))
      .as[(Long, Double, Long)].collect().toSet
    assert(native == reference && native.size == 35)
  }

  test("topk_score and the typed reference both skip NaN scores") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val df = Seq((1L, 10L, Double.NaN), (1L, 11L, 0.9), (1L, 10L, Double.NaN),
      (1L, 12L, 0.8)).toDF("qid", "nid", "cos")
    val native = df.groupBy("qid")
      .agg(graft.functions.GraftFunctions.topkScore(col("nid"), col("cos"), 3).as("tk"))
      .select(explode(col("tk")).as("e")).select(col("e.nid"))
      .as[Long].collect().toSeq
    val reference = df.groupBy("qid")
      .agg(Aggregators.topKByScore(3)(col("nid"), col("cos")).as("tk"))
      .select(explode(col("tk")).as("e")).select(col("e._2"))
      .as[Long].collect().toSeq
    assert(native == Seq(11L, 12L) && reference == Seq(11L, 12L))
  }

  test("native capped_ids ≡ typed CappedIds reference on a DataFrame") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // group g holds g rows (g = 1..12), a duplicate id in every group of
    // ≥ 4 rows and a null id in every group divisible by 3, shuffled
    // across partitions so partial/merge/serialize paths all run
    val rows: Seq[(Long, java.lang.Long)] = for {
      g <- 1L to 12L; i <- 0L until g
      id = if (g % 3 == 0 && i == 0) null
           else java.lang.Long.valueOf(if (g >= 4 && i == 1) g * 100 else g * 100 + i)
    } yield (g, id)
    val df = scala.util.Random.shuffle(rows).toDF("g", "id").repartition(5)
    for (cap <- Seq(1, 3, 5, Int.MaxValue)) {
      def lists(agg: org.apache.spark.sql.Column) =
        df.groupBy("g").agg(agg.as("ids")).as[(Long, Option[Seq[Long]])]
          .collect().toMap
      val native = lists(graft.functions.GraftFunctions.cappedIds(col("id"), cap))
      val reference = lists(Aggregators.cappedIds(cap)(col("id")))
      assert(native == reference, s"cap=$cap")
      for ((g, l) <- native) {
        val ids = rows.filter(_._1 == g).flatMap(r => Option(r._2)).map(_.longValue)
        assert(l == (if (g > cap) None else Some(ids.sorted)), s"cap=$cap g=$g")
      }
    }
  }

  test("capped_ids buffer holds at most cap + 1 ids under any update/merge order") {
    import graft.functions.CappedIdsAgg
    val rnd = new scala.util.Random(7)
    for (cap <- Seq(1, 2, 5, 9); trial <- 0 until 200) {
      val agg = CappedIdsAgg(org.apache.spark.sql.catalyst.expressions
        .BoundReference(0, org.apache.spark.sql.types.LongType, nullable = true), cap)
      val n = rnd.nextInt(2 * cap + 3)
      val input: Seq[java.lang.Long] = Seq.fill(n)(
        if (rnd.nextInt(6) == 0) null else java.lang.Long.valueOf(rnd.nextInt(4).toLong))
      def bounded(b: CappedIdsAgg.Buf): CappedIdsAgg.Buf = {
        assert(b.size <= cap + 1 && b.ids.length <= cap + 1,
          s"cap=$cap size=${b.size} alloc=${b.ids.length}")
        b
      }
      // random partial buffers, each round-tripped through serialize,
      // then merged in a random tree order
      var parts = input.grouped(1 + rnd.nextInt(3)).map { chunk =>
        val b = agg.createAggregationBuffer()
        chunk.foreach(v => bounded(agg.update(b,
          org.apache.spark.sql.catalyst.InternalRow(v))))
        bounded(agg.deserialize(agg.serialize(b)))
      }.toVector
      if (parts.isEmpty) parts = Vector(agg.createAggregationBuffer())
      while (parts.size > 1) {
        val i = rnd.nextInt(parts.size - 1)
        val merged = bounded(agg.merge(parts(i), parts(i + 1)))
        parts = parts.patch(i, Seq(merged), 2)
      }
      val got = Option(agg.eval(parts.head))
        .map(_.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq)
      val want = if (n > cap) None else Some(input.flatMap(Option(_)).map(_.longValue).sorted)
      assert(got == want, s"cap=$cap input=$input")
    }
  }

  test("capped_ids: merging two overflowed buffers stays overflowed") {
    import graft.functions.CappedIdsAgg
    val agg = CappedIdsAgg(org.apache.spark.sql.catalyst.expressions
      .BoundReference(0, org.apache.spark.sql.types.LongType, nullable = true), 2)
    def over(ids: Long*): CappedIdsAgg.Buf = {
      val b = agg.createAggregationBuffer()
      ids.foreach(i => agg.update(b, org.apache.spark.sql.catalyst.InternalRow(i)))
      assert(b.overflowed && b.size == 0)
      b
    }
    val merged = agg.merge(over(1L, 2L, 3L), over(4L, 5L, 6L))
    assert(merged.overflowed && merged.size == 0 && agg.eval(merged) == null)
    // and after a serialize round trip, into an empty buffer, and back
    val rt = agg.deserialize(agg.serialize(merged))
    assert(rt.overflowed && agg.eval(agg.merge(agg.createAggregationBuffer(), rt)) == null)
    assert(agg.eval(agg.merge(rt, agg.createAggregationBuffer())) == null)
  }
}
