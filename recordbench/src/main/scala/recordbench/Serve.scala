package recordbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{BucketedJoin, Fusion, Retrieval, Similarity}

/** Query batches and result checks of the serving ops. */
object Serving {
  val K = 10
  val Window = 8

  /** (qid, doc id, micro score, rank) rows in a canonical order; every
    * serving entry returns these four columns in this order. */
  type Hits = Seq[(Long, Long, Long, Long)]

  def hits(rows: Array[Row]): Hits = rows.toSeq.map { r =>
    def l(i: Int) = r.getAs[Number](i).longValue
    (l(0), l(1), l(2), l(3))
  }.sorted

  /** Each query's hits are at most k distinct documents ranked 1..n. */
  def wellFormed(h: Hits): Boolean = h.groupBy(_._1).values.forall { q =>
    q.size <= K && q.map(_._2).distinct.size == q.size &&
      q.map(_._4).sorted == (1L to q.size.toLong)
  }

  private def toks(s: String): Array[String] = s.toLowerCase.split("\\s+").filter(_.nonEmpty)

  /** Every hit of a phrase query holds the phrase; every hit of a NEAR
    * query holds all its terms. `text` regenerates a document. */
  def matches(qs: Seq[Inputs.Query], h: Hits, near: Boolean, text: Long => String): Boolean = {
    val q = qs.map(x => x.qid -> toks(x.text).toSeq).toMap
    h.forall { case (qid, doc, _, _) =>
      val d = toks(text(doc)).toSeq
      if (near) q(qid).forall(d.contains)
      else d.sliding(q(qid).size).contains(q(qid))
    }
  }
}

/** `serve`: one client serving query batches from standing indexes while
  * the same positional index takes writes. One step is a rotation:
  *
  *  1. eight read ops over the index as it stands: bm25, maxscore and
  *     sharded on the head batch; bm25 and maxscore on the tail batch;
  *     phrase; near; hybrid on the tail batch;
  *  1. `ingest`: append ~1% new documents and tombstone a seeded id set;
  *  1. `compact`: fold the tombstones and compact the index tables.
  *
  * The head batch adds a corpus-head term to every query, so MaxScore's
  * pruning engages; the tail batch holds tail terms only, so it gates
  * out. The sharded op serves the index as a one-shard family. Checks
  * run outside the timed ops:
  *  - maxscore and sharded equal bm25 on the same batch and index state;
  *  - phrase hits hold the phrase, near hits hold every term;
  *  - after ingest, a probe batch (the tail batch plus each appended
  *    document's unique term) ranks each appended document first and
  *    returns no tombstoned id; no read op returns one either;
  *  - the probe batch returns the same hits after fold and compaction.
  */
final class Serve(spark: SparkSession, seed: Long, work: String, cores: Int,
                  nDocs: Long, batchSize: Int, appendDocs: Int, deleteDocs: Int,
                  probes: Int) extends Workload {
  import Serving._

  private val parts = cores * 2
  private val idx = "srv"
  // the sharded entry over a one-shard family: the single index (two
  // more shard builds would cost a sixth of a run's budget)
  private val shards = Seq(idx)
  private val ivf = "srv_vec"
  private val ledger = new Ledger

  private val head = Inputs.bagBatch(seed, 1, batchSize, head = true, nDocs)
  private val tail = Inputs.bagBatch(seed, 2, batchSize, head = false, nDocs)
  private val phrase = Inputs.phraseBatch(seed, 3, batchSize, near = false, nDocs)
  private val near = Inputs.phraseBatch(seed, 4, batchSize, near = true, nDocs)
  private var rotation = 0
  private var nextId = nDocs
  private val dead = mutable.Set[Long]()
  // walls of the timed ops: the read ops, then ingest and compact
  private val opWalls = mutable.ArrayBuffer[(String, Double)]()
  private var readS = 0.0
  private var readOps = 0
  private var textBytes = 0L
  private var absorbed = 0L
  private var usage = Storage.Usage(0, 0)

  // a serve round costs a third of a run's budget on four cores, so it
  // runs once, in the cold JVM, as a freshly started service would
  override def setupRounds: Int = 1

  def setup(round: Int): Unit = {
    val path = s"$work/serve/corpus.parquet"
    Inputs.corpus(spark, seed, 0, nDocs, nDocs, parts)
      .write.mode("overwrite").parquet(path)
    val docs = spark.read.parquet(path)
    Retrieval.bm25Build(docs, "doc_id", "text", idx, positions = true)
    Similarity.ivfBuild(docs, "doc_id", "embedding", ivf)
  }

  override def prepare(): Unit = {
    textBytes = spark.read.parquet(s"$work/serve/corpus.parquet")
      .agg(sum(octet_length(col("text")))).head().getLong(0)
    absorbed = textBytes
    usage = Storage.usage(spark, Storage.bm25Family(idx))
  }

  private def text(id: Long) = Inputs.docText(seed, id, nDocs)

  private def query(op: String, q: DataFrame): DataFrame = op match {
    case "bm25" => Retrieval.bm25Query(spark, idx, q, "qid", "qtext", K)
    // the default gate (2^16 head postings) is sized for 1e6-document
    // corpora; here the head term holds one posting per document, so the
    // gate is set to 2^10: head batches engage the pruning, tail batches
    // (no head postings) stay gated out
    case "maxscore" => Retrieval.bm25QueryMaxScore(spark, idx, q, "qid", "qtext", K,
      gateMinHeadMass = 1L << 10)
    case "phrase" => Retrieval.bm25PhraseQuery(spark, idx, q, "qid", "qtext", K)
    case "near" => Retrieval.bm25ProximityQuery(spark, idx, q, "qid", "qtext", K, Window)
    case "sharded" => Retrieval.bm25ShardedQuery(spark, shards, q, "qid", "qtext", K)
    case "hybrid" => Fusion.hybridQuery(spark, idx, q, "qid", "qtext", "qvec", K,
      vecIndex = Some(ivf))
  }

  /** One timed read op; returns its hits, or None when it threw. */
  private def read(t: Tracer, op: String, qs: Seq[Inputs.Query]): Option[Hits] = {
    val q = Inputs.queryFrame(spark, qs, withVec = op == "hybrid")
    val layer = if (op == "hybrid") "fusion" else "retrieval"
    val (res, span) = t.op(op) {
      ledger.attempt(op) {
        val (df, _) = t.call(op, layer)(query(op, q))
        val (rows, e) = t.exec(op, layer)(df.collect())
        e.add("hits", rows.length)
        hits(rows)
      }
    }
    t.settle()
    if (res.isDefined) {
      opWalls += s"$op ${qs.head.qid / 1000}" -> span.seconds
      readS += span.seconds
      readOps += 1
    }
    res
  }

  /** An untimed bm25 serve on the grown index, for a check. */
  private def probeServe(t: Tracer, qs: Seq[Inputs.Query]): Hits = {
    val q = Inputs.queryFrame(spark, qs, withVec = false)
    val (res, _) = t.span("check", "probe", "bench") {
      val (df, _) = t.call("serve_bm25", "retrieval")(
        Retrieval.bm25Query(spark, idx, q, "qid", "qtext", K))
      val (rows, e) = t.exec("serve_bm25", "retrieval")(df.collect())
      e.add("hits", rows.length)
      hits(rows)
    }
    t.settle()
    res
  }

  /** The read ops of a rotation, (op, batch name, batch): bm25,
    * maxscore and sharded on the head batch; bm25 and maxscore on the
    * tail batch; phrase; near; hybrid on the tail batch. */
  private val reads: Seq[(String, String, Seq[Inputs.Query])] = Seq(
    ("bm25", "head", head), ("maxscore", "head", head), ("sharded", "head", head),
    ("bm25", "tail", tail), ("maxscore", "tail", tail),
    ("phrase", "phrase", phrase), ("near", "near", near), ("hybrid", "tail", tail))

  // no warm-up pass: one costs a quarter of a run's budget
  def warmup(t: Tracer): Unit = ()

  def step(t: Tracer): Unit = {
    rotation += 1
    readPass(t)
    val appended = ingest(t)
    if (appended.nonEmpty) {
      // serving on the grown index: a probe for each of the first
      // appended documents (its unique term) must rank that document first
      val probeIds = appended.take(probes)
      val probeBatch = tail.take(batchSize - probeIds.size) ++ probeIds.zipWithIndex.map {
        case (id, i) => Inputs.Query(900000L + i, Inputs.uniqueTerm(id), null)
      }
      val before = probeServe(t, probeBatch)
      val found = probeIds.zipWithIndex.forall { case (id, i) =>
        before.exists(x => x._1 == 900000L + i && x._2 == id && x._4 == 1)
      }
      ledger.check(found && before.forall(x => !dead.contains(x._2)),
        s"rotation $rotation ingest: a probe missed its document, or a tombstoned id served")
      if (compact(t)) ledger.check(probeServe(t, probeBatch) == before,
        s"rotation $rotation: fold and compaction changed the probe batch's hits")
    }
    usage = Storage.usage(spark, Storage.bm25Family(idx))
  }

  /** The read ops, each checked against its reference. */
  private def readPass(t: Tracer): Unit = {
    val got = reads.map { case (op, b, qs) => (op, b, qs, read(t, op, qs)) }
    def hitsOf(op: String, b: String) = got.collectFirst { case (`op`, `b`, _, h) => h }.flatten
    got.foreach {
      case (_, _, _, None) => ()
      case (op, b, qs, Some(h)) =>
        val same = op match {
          case "maxscore" | "sharded" => hitsOf("bm25", b).forall(_ == h)
          case "phrase" | "near" => matches(qs, h, op == "near", text)
          case _ => true
        }
        // the vector leg of hybrid does not consult the tombstones
        val live = op == "hybrid" || h.forall(x => !dead.contains(x._2))
        ledger.check(wellFormed(h) && same && live, s"rotation $rotation $op $b: check failed")
    }
  }

  /** Appends ~1% new documents and tombstones ids drawn from the live
    * ones; returns the appended ids (none when the op threw). */
  private def ingest(t: Tracer): Seq[Long] = {
    val first = nextId
    nextId += appendDocs
    val r = Inputs.rng(seed, 51, rotation)
    val gone = Seq.fill(deleteDocs) {
      var id = r.nextLong(first)
      while (dead.contains(id)) id = r.nextLong(first)
      id
    }.distinct
    val (ok, op) = t.op("ingest") {
      ledger.attempt("ingest") {
        val docs = Inputs.corpus(spark, seed, first, nextId, nDocs, parts).select("doc_id", "text")
        val (_, a) = t.call("append", "index")(
          Retrieval.bm25Append(spark, idx, docs, "doc_id", "text"))
        val user = (first until nextId).map(id => text(id).getBytes("UTF-8").length.toLong).sum
        a.add("user_bytes", user.toDouble)
        absorbed += user
        import spark.implicits._
        t.call("delete", "index")(Retrieval.bm25Delete(spark, idx, gone.toDF("id"), "id"))
        dead ++= gone
      }
    }
    t.settle()
    if (ok.isEmpty) return Nil
    opWalls += "ingest" -> op.seconds
    first until nextId
  }

  /** Folds the tombstones and compacts the index tables; true when done. */
  private def compact(t: Tracer): Boolean = {
    val (ok, op) = t.op("compact") {
      ledger.attempt("compact") {
        t.call("fold", "index")(Retrieval.bm25FoldTombstones(spark, idx))
        t.call("compact", "index") {
          BucketedJoin.compactBucketed(spark, idx, "term")
          BucketedJoin.compactBucketed(spark, s"${idx}_terms", "term")
          BucketedJoin.compactBucketed(spark, s"${idx}_stats", "n_docs")
          BucketedJoin.compactBucketed(spark, s"${idx}_pos", "term")
        }
      }
    }
    t.settle()
    if (ok.isDefined) opWalls += "compact" -> op.seconds
    ok.isDefined
  }

  def finish(t: Tracer): Outcome = {
    val walls = opWalls.map(_._2).toSeq
    val e2e = Seq(
      Metric("op_p50_s", Stats.median(walls), "s"),
      Metric("op_tail_s", Stats.percentile(walls, Serve.TailPct), "s"),
      Metric("work_per_s", readOps.toDouble * batchSize / readS, "1/s"),
      Metric("disk_bytes_per_input_byte", usage.bytes.toDouble / absorbed, "ratio"))
    val layer = if (t.traced) Layers.metrics(t, cores, Map(
      "index.files" -> usage.files.toDouble, "index.bytes" -> usage.bytes.toDouble))
      else Nil
    Outcome(ledger.attempted, ledger.failed, e2e, layer, Seq(
      "inputs" -> Json.obj(Seq("docs" -> Json.num(nDocs), "text_bytes" -> Json.num(textBytes),
        "batch_queries" -> Json.num(batchSize), "append_docs" -> Json.num(appendDocs),
        "delete_docs" -> Json.num(deleteDocs), "rotations" -> Json.num(rotation))),
      "samples" -> Json.num(walls.size),
      "op_walls_s" -> Json.arr(opWalls.toSeq.map { case (k, v) =>
        Json.obj(Seq("op" -> Json.str(k), "s" -> Json.num(v))) }),
      "tail_percentile" -> Json.num(Serve.TailPct),
      "failures" -> Json.arr(ledger.failures.map(Json.str).toSeq)))
  }
}

object Serve {
  val TailPct = 75.0
}
