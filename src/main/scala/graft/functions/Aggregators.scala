package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Typed aggregators mirroring the reference's aggregate framework
  * (reference: hadoop-mapreduce-client-core `mapreduce/lib/aggregate/` —
  * `UniqValueCount.java:35-108`, `ValueHistogram.java:55-163`).
  *
  * Both follow the 3-phase `Aggregator[IN,BUF,OUT]` contract
  * (init / update+merge / finish), which is exactly the reference's
  * `addNextValue` / `getCombinerOutput` / `getReport` shape — Spark runs
  * the update phase map-side (partial aggregation) and merge after the
  * shuffle, so the combiner behavior is preserved.
  */
object Aggregators {

  /** Distinct-value count with an insertion cap.
    *
    * Reference shape (`UniqValueCount.java:88-93`): values past the cap
    * are dropped. DELIBERATE divergence: the reference inserts while
    * `numItems <= maxNumItems`, so it actually retains up to cap+1 values
    * and reports min(distinct, cap+1); here the cap is exact —
    * min(distinct, cap) — which is the semantics the name promises and
    * what the a2 `LEAST(distinct, 10)` oracle checks. WHICH values are
    * retained is order-dependent either way, but the COUNT is
    * deterministic: a buffer below the cap has lost nothing, and a buffer
    * at the cap already counts `cap`. At 100 TB scale prefer `approx_count_distinct`
    * (HLL, gated by a5) — this operator exists for reference API parity
    * and memory-bounded small-cardinality dimensions.
    */
  final case class CappedDistinct(cap: Int)
      extends Aggregator[String, Set[String], Long] {
    override def zero: Set[String] = Set.empty
    override def reduce(b: Set[String], v: String): Set[String] =
      if (v == null || b.size >= cap || b.contains(v)) b else b + v
    override def merge(x: Set[String], y: Set[String]): Set[String] = {
      var b = x
      val it = y.iterator
      while (it.hasNext && b.size < cap) b += it.next()
      b
    }
    override def finish(b: Set[String]): Long = b.size.toLong
    override def bufferEncoder: Encoder[Set[String]] = ExpressionEncoder[Set[String]]()
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** ValueHistogram report: per group key, the distribution of per-value
    * frequencies. Matches the reference's report exactly
    * (`ValueHistogram.java:109-163`): count of distinct values, min / max
    * frequency, the *upper median* frequency (sorted counts, 0-based index
    * len/2), mean frequency, and population stddev of frequencies.
    */
  final case class HistReport(
      n_distinct: Long, min_cnt: Long, med_cnt: Long, max_cnt: Long,
      avg_cnt: Double, std_cnt: Double)

  final class ValueHistogram
      extends Aggregator[String, Map[String, Long], HistReport] {
    override def zero: Map[String, Long] = Map.empty
    override def reduce(b: Map[String, Long], v: String): Map[String, Long] = {
      val k = if (v == null) "" else v
      b.updated(k, b.getOrElse(k, 0L) + 1L)
    }
    override def merge(x: Map[String, Long], y: Map[String, Long]): Map[String, Long] =
      y.foldLeft(x) { case (m, (k, c)) => m.updated(k, m.getOrElse(k, 0L) + c) }
    override def finish(b: Map[String, Long]): HistReport = {
      if (b.isEmpty) return HistReport(0L, 0L, 0L, 0L, 0.0, 0.0)
      val counts = b.values.toArray.sorted
      val n = counts.length
      // exact integer sums, then ONE fixed double expression — keeps the
      // result bit-identical across merge orders and vs the SQL oracle
      var s = 0L; var sq = 0L
      counts.foreach { c => s += c; sq += c * c }
      val mean = s.toDouble / n
      val varPop = math.max((sq.toDouble - s.toDouble * s.toDouble / n) / n, 0.0)
      HistReport(n.toLong, counts.head, counts(n / 2), counts.last,
        mean, math.sqrt(varPop))
    }
    override def bufferEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder: Encoder[HistReport] = Encoders.product[HistReport]
  }

  /** Detailed-report mode (`ValueHistogram.java` getReportDetails: the
    * full value→frequency table, not just the summary): as a typed
    * aggregator returning sorted (value, count) entries. Bounded-group
    * use only, like the reference.
    */
  final class ValueHistogramDetail
      extends Aggregator[String, Map[String, Long], Seq[(String, Long)]] {
    private val base = new ValueHistogram
    override def zero: Map[String, Long] = base.zero
    override def reduce(b: Map[String, Long], v: String): Map[String, Long] =
      base.reduce(b, v)
    override def merge(x: Map[String, Long], y: Map[String, Long]): Map[String, Long] =
      base.merge(x, y)
    override def finish(b: Map[String, Long]): Seq[(String, Long)] =
      b.toSeq.sortBy(_._1)
    override def bufferEncoder: Encoder[Map[String, Long]] = base.bufferEncoder
    override def outputEncoder: Encoder[Seq[(String, Long)]] =
      ExpressionEncoder[Seq[(String, Long)]]()
  }

  /** Bounded deterministic top-k of (score, id) pairs — the ranking
    * tail of the ANN family (brute-force / LSH / IVF top-k).
    *
    * Replaces `dropDuplicates + row_number().over(Window.partitionBy(qid)
    * .orderBy(cos desc, nid))`: the window shape exchanges AND fully
    * sorts every scored candidate row (at 10⁷ corpus / 100 queries
    * that is ~5·10⁸ rows through two shuffles — measured as the
    * ivfQuery scale wall in DevSimScale), where the aggregation holds
    * O(k) state per query, combines map-side, and moves only
    * partitions·queries·k rows.
    *
    * Determinism contract: total order = (cos desc, nid asc); ties in
    * cos break by id; each nid appears AT MOST ONCE, retained at its
    * MAX observed score. Duplicate candidates — the same (qid, nid)
    * surfacing via several lists/tables — usually carry the SAME
    * rounded score (per-nid max ≡ the old pair dedup ≡ dropDuplicates),
    * but residual-encoded ivfPqQuery gives a multi-assigned doc a
    * DIFFERENT ADC estimate per probed list, and per-nid max keeps that
    * doc from eating two of the candidate slots. The bounded buffer is
    * exact for "top-k distinct nids by per-nid max": rejection requires
    * k better distinct-nid entries whose scores only improve, so the
    * admission threshold is monotone and a rejected row can never be in
    * the final answer.
    *
    * Buffer entries are (cos, nid) best-first; the common candidate
    * (worse than everything retained) is rejected without allocation.
    */
  final case class TopKByScore(k: Int)
      extends Aggregator[(Long, Double), Seq[(Double, Long)], Seq[(Double, Long)]] {
    require(k > 0, s"k must be positive, got $k")
    override def zero: Seq[(Double, Long)] = Vector.empty

    private def better(a: (Double, Long), b: (Double, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

    private def insert(b: Seq[(Double, Long)], e: (Double, Long)): Seq[(Double, Long)] = {
      val i = b.indexWhere(x => !better(x, e))
      val ahead = if (i < 0) b else b.take(i)
      if (ahead.exists(_._2 == e._2)) b // n retained with a better entry
      else if (i < 0) { if (b.size < k) b :+ e else b }
      else if (b(i) == e) b
      else {
        // a worse retained entry for this nid is superseded, not kept
        val nb = (ahead :+ e) ++ b.drop(i).filterNot(_._2 == e._2)
        if (nb.size > k) nb.take(k) else nb
      }
    }

    // NaN scores are skipped (same contract as the native TopKScoreAgg:
    // a non-finite score is not a ranking, and NaN breaks the strict
    // total order the dedup/eviction proofs rely on)
    override def reduce(b: Seq[(Double, Long)], v: (Long, Double)): Seq[(Double, Long)] =
      if (v._2.isNaN) b else insert(b, (v._2, v._1))
    override def merge(x: Seq[(Double, Long)], y: Seq[(Double, Long)]): Seq[(Double, Long)] =
      y.foldLeft(x)(insert)
    override def finish(b: Seq[(Double, Long)]): Seq[(Double, Long)] = b
    override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
      ExpressionEncoder[Seq[(Double, Long)]]()
    override def outputEncoder: Encoder[Seq[(Double, Long)]] =
      ExpressionEncoder[Seq[(Double, Long)]]()
  }

  /** Bounded posting list: the typed reference for the native
    * [[CappedIdsAgg]] (`capped_ids`), asserted equal to it in
    * AggregatorsSpec. Every row counts toward `cap`, a null id included;
    * a group of at most `cap` rows finishes as its non-null ids sorted
    * ascending (duplicates kept), a larger group as null. The buffer is
    * (rows counted, ids) and drops its ids the moment the count passes
    * `cap`. `cap = Int.MaxValue` is "no cap".
    */
  final case class CappedIds(cap: Int)
      extends Aggregator[java.lang.Long, (Long, Seq[Long]), Seq[Long]] {
    require(cap > 0, s"cap must be positive, got $cap")
    override def zero: (Long, Seq[Long]) = (0L, Vector.empty)
    private def add(b: (Long, Seq[Long]), rows: Long,
                    ids: Seq[Long]): (Long, Seq[Long]) =
      if (b._1 > cap) b
      else if (b._1 + rows > cap) (cap + 1L, Vector.empty)
      else (b._1 + rows, b._2 ++ ids)
    override def reduce(b: (Long, Seq[Long]), v: java.lang.Long): (Long, Seq[Long]) =
      add(b, 1L, if (v == null) Nil else Seq(v.longValue))
    override def merge(x: (Long, Seq[Long]), y: (Long, Seq[Long])): (Long, Seq[Long]) =
      add(x, y._1, y._2)
    override def finish(b: (Long, Seq[Long])): Seq[Long] =
      if (b._1 > cap) null else b._2.sorted
    override def bufferEncoder: Encoder[(Long, Seq[Long])] =
      ExpressionEncoder[(Long, Seq[Long])]()
    override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder[Seq[Long]]()
  }

  /** Column-ready UDAFs. */
  def cappedDistinct(cap: Int) = udaf(CappedDistinct(cap))
  val valueHistogram = udaf(new ValueHistogram)
  val valueHistogramDetail = udaf(new ValueHistogramDetail)
  def topKByScore(k: Int) =
    udaf(TopKByScore(k), ExpressionEncoder[(Long, Double)]())
  def cappedIds(cap: Int) = udaf(CappedIds(cap), Encoders.LONG)
}
