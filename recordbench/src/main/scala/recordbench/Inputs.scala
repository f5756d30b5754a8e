package recordbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's own seeded inputs. Everything is a pure function of
  * (seed, id), so any document can be regenerated on the driver for a
  * check, and no code of the program under test shapes the inputs.
  */
object Inputs {

  def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def mix(seed: Long, salt: Long, id: Long): Long =
    splitmix64(splitmix64(seed ^ (salt * 0x632be59bd9b4e019L)) ^ id)

  def rng(seed: Long, salt: Long, id: Long) = new SplittableRandom(mix(seed, salt, id))

  /** Term of Zipf rank r (0 = most frequent). */
  def word(r: Int): String = "w" + Integer.toString(r, 36)

  /** Zipf(s) over `vocab` ranks by inverse CDF. */
  final class Zipf(val vocab: Int, s: Double) extends Serializable {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(vocab)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var lo = 0
      var hi = vocab - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  val Vocab = 20000
  val zipf = new Zipf(Vocab, 1.0)

  /** Length of document `id`: 30 to 80 terms. A function of the id
    * alone, so every seed yields corpora of the same size. */
  def docLength(id: Long): Int = 30 + (splitmix64(id) & 0x7fffffff).toInt % 51

  /** Zipf ranks of document `id`'s terms; `salt` separates independent
    * corpora. */
  def ranks(seed: Long, salt: Long, id: Long): Array[Int] = {
    val r = rng(seed, salt, id)
    Array.fill(docLength(id))(zipf.draw(r))
  }

  /** Zipf text of 30 to 80 terms. */
  def text(seed: Long, salt: Long, id: Long): String =
    ranks(seed, salt, id).map(word).mkString(" ")

  /** The unique term planted in appended document `id`. */
  def uniqueTerm(id: Long): String = "u" + java.lang.Long.toString(id, 36)

  /** Corpus document `id`: Zipf text, plus its unique term when the
    * document was appended after the initial build. */
  def docText(seed: Long, id: Long, initialDocs: Long): String =
    if (id < initialDocs) text(seed, 1, id)
    else text(seed, 1, id) + " " + uniqueTerm(id)

  val Dim = 16

  def embedding(seed: Long, id: Long): Array[Double] = {
    val r = rng(seed, 2, id)
    Array.fill(Dim)(r.nextDouble() * 2 - 1)
  }

  /** Serving corpus rows `[from, until)`: (doc_id, text, embedding). */
  def corpus(spark: SparkSession, seed: Long, from: Long, until: Long,
             initialDocs: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, until, 1, parts).as[Long].map { id =>
      (id, docText(seed, id, initialDocs), embedding(seed, id))
    }.toDF("doc_id", "text", "embedding")
  }

  // ------------------------------------------------------------ query batches

  final case class Query(qid: Long, text: String, vec: Array[Double])

  /** Tail terms have Zipf ranks in [1000, 5000): a handful to a hundred
    * documents each at the serving corpus sizes. Query i of a batch draws
    * from stratum i of that range, so every seed's batch spans the same
    * document frequencies. */
  private def tailTerm(r: SplittableRandom, i: Int, n: Int): String = {
    val width = 4000 / n
    word(1000 + i * width + r.nextInt(width))
  }

  /** A bag-of-words batch of two or three tail terms per query. Head
    * batches add the corpus-head term (in nearly every document), which
    * gives MaxScore a head posting mass to prune; tail batches carry
    * tail terms only, so it gates out. */
  def bagBatch(seed: Long, batch: Long, n: Int, head: Boolean,
               corpusDocs: Long): Seq[Query] = {
    val r = rng(seed, 10, batch)
    (0 until n).map { i =>
      val tails = Seq.fill(2 + i % 2)(tailTerm(r, i, n))
      val terms = if (head) word(0) +: tails else tails
      Query(batch * 1000 + i, terms.mkString(" "),
        embedding(seed, r.nextLong(corpusDocs)))
    }
  }

  /** A phrase batch: three consecutive terms of a random document. For
    * NEAR, terms two positions apart (all within a window of 8). A
    * window is kept only when its rarest term has Zipf rank ≥ 300, so
    * no query is a run of stop words. */
  def phraseBatch(seed: Long, batch: Long, n: Int, near: Boolean,
                  docs: Long): Seq[Query] = {
    val r = rng(seed, 11, batch)
    val step = if (near) 2 else 1
    (0 until n).map { i =>
      var picked: Seq[Int] = Nil
      while (picked.isEmpty) {
        val rk = ranks(seed, 1, r.nextLong(docs))
        val p = r.nextInt(rk.length - 2 * step)
        val w = Seq(p, p + step, p + 2 * step).map(rk)
        if (w.max >= 300) picked = w
      }
      Query(batch * 1000 + i, picked.map(word).mkString(" "), null)
    }
  }

  def queryFrame(spark: SparkSession, qs: Seq[Query], withVec: Boolean): DataFrame = {
    import spark.implicits._
    if (withVec) qs.map(q => (q.qid, q.text, q.vec)).toDF("qid", "qtext", "qvec")
    else qs.map(q => (q.qid, q.text)).toDF("qid", "qtext")
  }

  // ------------------------------------------------------------ ETL tables

  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val KeyShift = 10000000L

  /** `reps` key-shifted replicas of `baseOrders` orders: replica `rep`
    * of order j has key j + 1 + rep·10⁷ and j's exact content, so group
    * sizes and join fan-out are those of the base copy. */
  def orders(spark: SparkSession, seed: Long, baseOrders: Long, reps: Int,
             parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, baseOrders * reps, 1, parts).as[Long].map { i =>
      val j = i % baseOrders
      val r = rng(seed, 20, j)
      (j + 1 + (i / baseOrders) * KeyShift, r.nextLong(15000L),
        Priorities(r.nextInt(Priorities.size)), r.nextInt(50000000) / 100.0)
    }.toDF("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
  }

  /** 1 to 7 lines per order (4 on average, the same for every seed),
    * replicated like [[orders]]. */
  def lineitem(spark: SparkSession, seed: Long, baseOrders: Long, reps: Int,
               parts: Int): DataFrame = {
    import spark.implicits._
    val epoch0 = 694224000000000L // 1992-01-01 in µs
    spark.range(0, baseOrders * reps, 1, parts).as[Long].flatMap { i =>
      val j = i % baseOrders
      val key = j + 1 + (i / baseOrders) * KeyShift
      val r = rng(seed, 21, j)
      val lines = 1 + (j % 7).toInt
      (1 to lines).map { ln =>
        val qty = 1 + r.nextInt(50)
        (key, ln, qty.toDouble, (qty * (90000 + r.nextInt(1000000))) / 100.0,
          epoch0 + r.nextInt(2400).toLong * 86400000000L)
      }
    }.toDF("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "ship_us")
      .withColumn("l_shipdate", timestamp_micros(col("ship_us"))).drop("ship_us")
  }

  /** Fresh Zipf documents, plus exact copies of every 100th document
    * and near-duplicates (" xq" appended) of every 50th, so the exact
    * and near-duplicate stages of the ETL jobs both find work. */
  def etlDocuments(spark: SparkSession, seed: Long, nDocs: Long,
                   parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, nDocs, 1, parts).as[Long].flatMap { id =>
      val t = text(seed, 30, id)
      Seq(id -> t) ++
        (if (id % 50 == 0) Seq((id + nDocs) -> (t + " xq")) else Nil) ++
        (if (id % 100 == 1) Seq((id + 2 * nDocs) -> t) else Nil)
    }.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("gen"))
      .withColumn("n_chars", length(col("text")).cast(LongType))
  }

  /** TeraSort's record generator, restated from its specification
    * (splitmix64 keys, 32-digit id plus filler values) so the sort
    * check does not trust the code under test for its expected input. */
  def teraRecord(seed: Long, i: Long): (Array[Byte], Array[Byte]) = {
    val h1 = splitmix64(seed ^ i)
    val h2 = splitmix64(h1 ^ 0x5851f42d4c957f2dL)
    val key = new Array[Byte](10)
    var b = 0
    while (b < 8) { key(b) = (h1 >>> (56 - 8 * b)).toByte; b += 1 }
    key(8) = (h2 >>> 56).toByte
    key(9) = (h2 >>> 48).toByte
    val value = new Array[Byte](90)
    System.arraycopy(f"$i%032d".getBytes("US-ASCII"), 0, value, 0, 32)
    var j = 32
    while (j < 90) { value(j) = ('A' + ((i + j) % 26)).toByte; j += 1 }
    (key, value)
  }
}
