package recordbench

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Queries
import graft.sources.TeraSort

/** `etl_scan`: a fixed rotation of the MapReduce-surface jobs over a
  * key-shifted replica corpus, with TeraSort beside them. One step is a
  * whole rotation, so every run times the same mix of jobs. */
final class Etl(spark: SparkSession, seed: Long, work: String, cores: Int,
                baseOrders: Long, reps: Int, nDocs: Long, teraRows: Long)
    extends Workload {

  private val dir = s"$work/etl"
  private val parts = cores * 2
  private val jobs = Layers.EtlJobs
  private val queryJobs: Map[String, Queries.Q] = Map(
    "o2_secsort" -> Queries.o2_secsort, "j1_join" -> Queries.j1_join,
    "a1_wordcount" -> Queries.a1_wordcount, "dd4_ngram" -> Queries.dd4_ngram,
    "p1_clean" -> Queries.p1_clean)

  private val ledger = new Ledger
  private var oracleRun: scala.concurrent.Future[Map[String, Fingerprint]] = _
  private var inputRows = Map.empty[String, Long]
  private var liRows, ordRows, docRows = 0L
  private val walls = mutable.ArrayBuffer[(String, Double)]()
  private val outputs = mutable.ArrayBuffer[(String, Fingerprint)]()
  private val teraRuns = mutable.ArrayBuffer[(String, Row)]()
  private var teraCount = 0

  def setup(round: Int): Unit = {
    Inputs.orders(spark, seed, baseOrders, reps, parts)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Inputs.lineitem(spark, seed, baseOrders, reps, parts)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Inputs.etlDocuments(spark, seed, nDocs, parts)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  override def prepare(): Unit = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val ord = spark.read.parquet(s"$dir/orders.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    liRows = li.count(); ordRows = ord.count(); docRows = docs.count()
    inputRows = Map("o2_secsort" -> liRows, "j1_join" -> (liRows + ordRows),
      "a1_wordcount" -> docRows, "dd4_ngram" -> docRows, "p1_clean" -> docRows,
      "terasort" -> teraRows)
    // the references are computed beside the (untimed) warm-up rotation
    oracleRun = scala.concurrent.Future {
      spark.sparkContext.setJobGroup("oracle", "check references", interruptOnCancel = false)
      Oracles.all(spark, li, ord, docs, teraRows)
    }(scala.concurrent.ExecutionContext.global)
  }

  private def runJob(t: Tracer, job: String, measured: Boolean): Unit = {
    val (_, op) = t.op(job) {
      ledger.attempt(job) {
        if (job == "terasort") {
          teraCount += 1
          val out = s"$dir/terasort-$teraCount"
          val (df, _) = t.call(job, "sources") { TeraSort.kernel(spark, teraRows, out) }
          val (row, _) = t.exec(job, "sources") { df.collect().head }
          teraRuns += out -> row
        } else {
          val (df, _) = t.call(job, "queries") {
            val d = queryJobs(job)(spark, dir)
            d.queryExecution.executedPlan
            d
          }
          val (fp, _) = t.exec(job, "queries") { Fingerprint.force(df) }
          outputs += job -> fp
        }
      }
    }
    if (measured) walls += job -> op.seconds
    t.settle()
  }

  def warmup(t: Tracer): Unit = jobs.foreach(runJob(t, _, measured = false))

  def step(t: Tracer): Unit = jobs.foreach(runJob(t, _, measured = true))

  def finish(t: Tracer): Outcome = {
    import scala.concurrent.duration._
    val oracle = scala.concurrent.Await.result(oracleRun, 120.seconds)
    outputs.foreach { case (job, fp) =>
      ledger.check(fp == oracle(job), s"$job fingerprint $fp != oracle ${oracle(job)}")
    }
    var teraBytes = 0L
    teraRuns.foreach { case (out, row) =>
      val selfOk = row.getAs[Long]("rows") == teraRows &&
        row.getAs[Boolean]("sorted_within") && row.getAs[Boolean]("sorted_across") &&
        row.getAs[Boolean]("io_checksum_match")
      val (fp, ordered) = Oracles.sortedOutput(spark, out)
      ledger.check(selfOk && ordered && fp == oracle("terasort"),
        s"terasort $out: report $row, globally ordered $ordered, fingerprint $fp")
      teraBytes = Storage.usage(Seq(new java.io.File(out))).bytes
    }
    val opWalls = walls.map(_._2).toSeq
    val rows = walls.map { case (j, _) => inputRows(j) }.sum.toDouble
    val e2e = Seq(
      Metric("op_p50_s", Stats.median(opWalls), "s"),
      Metric("op_tail_s", Stats.percentile(opWalls, Etl.TailPct), "s"),
      Metric("work_per_s", rows / opWalls.sum, "1/s"),
      Metric("disk_bytes_per_input_byte", teraBytes / (teraRows * 100.0), "ratio"))
    val layer = if (t.traced) Layers.metrics(t, cores, Map.empty) else Nil
    Outcome(ledger.attempted, ledger.failed, e2e, layer, Seq(
      "inputs" -> Json.obj(Seq("lineitem_rows" -> Json.num(liRows),
        "orders_rows" -> Json.num(ordRows), "documents_rows" -> Json.num(docRows),
        "replicas" -> Json.num(reps), "terasort_rows" -> Json.num(teraRows))),
      "samples" -> Json.num(opWalls.size),
      "op_walls_s" -> Json.arr(walls.toSeq.map { case (j, w) =>
        Json.obj(Seq("job" -> Json.str(j), "s" -> Json.num(w))) }),
      "tail_percentile" -> Json.num(Etl.TailPct),
      "failures" -> Json.arr(ledger.failures.map(Json.str).toSeq)))
  }
}

object Etl {
  val TailPct = 75.0
}

/** Plain-Spark references for the ETL jobs, written from the jobs'
  * specifications with RDD operations, none of the program's operators. */
object Oracles {

  private def tokens(s: String): Array[String] = s.split("\\s+").filter(_.nonEmpty)

  def all(spark: SparkSession, li: DataFrame, ord: DataFrame, docs: DataFrame,
          teraRows: Long): Map[String, Fingerprint] = {
    val liR = li.select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")
      .rdd.map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getTimestamp(3).getTime))
    val docR = docs.select("doc_id", "text").rdd.map(r => (r.getLong(0), r.getString(1)))

    val o2 = liR.map { case (k, ln, _, ship) => k -> (ship, ln) }.groupByKey()
      .map { case (k, ls) => Seq[Any](k, ls.toSeq.sorted.map(_._2).mkString(",")) }

    val prio = ord.select("o_orderkey", "o_orderpriority").rdd
      .map(r => r.getLong(0) -> r.getString(1))
    val j1 = liR.map { case (k, _, price, _) => k -> math.floor(price * 100 + 0.5).toLong }
      .join(prio).map { case (_, (c, p)) => p -> (1L, c) }
      .reduceByKey((a, b) => (a._1 + b._1, a._2 + b._2))
      .map { case (p, (n, c)) => Seq[Any](p, n, c) }

    val a1 = docR.flatMap { case (_, t) => tokens(t).map(_ -> 1L) }.reduceByKey(_ + _)
      .map { case (w, n) => Seq[Any](w, n) }

    // exact dedup: smallest id per distinct text
    val uniq = docR.map { case (id, t) => t -> id }.reduceByKey((a, b) => math.min(a, b))
      .map { case (t, id) => id -> t }
    val p1Dropped = nearDupPairs(uniq).map { case (_, b, _) => b -> () }.distinct()
    val p1 = uniq.leftOuterJoin(p1Dropped).filter(_._2._2.isEmpty)
      .map { case (id, (t, _)) => id -> tokens(t).length.toLong }
      .filter(_._2 >= 5).map { case (id, n) => Seq[Any](id, n) }

    val dd4 = nearDupPairs(docR).map { case (a, b, j) => Seq[Any](a, b, j) }

    val tera = spark.sparkContext.range(0L, teraRows, 1L, 8).map { i =>
      val (k, v) = Inputs.teraRecord(42L, i)
      Seq[Any](k, v)
    }
    Map("o2_secsort" -> Fingerprint.ofRdd(o2), "j1_join" -> Fingerprint.ofRdd(j1),
      "a1_wordcount" -> Fingerprint.ofRdd(a1), "dd4_ngram" -> Fingerprint.ofRdd(dd4),
      "p1_clean" -> Fingerprint.ofRdd(p1), "terasort" -> Fingerprint.ofRdd(tera))
  }

  /** Word-3-shingle Jaccard ≥ 0.8 pairs (a < b), shingles held by more
    * than 5 documents dropped first; Jaccard over the kept shingles. */
  def nearDupPairs(docs: RDD[(Long, String)]): RDD[(Long, Long, Double)] = {
    val sh = docs.flatMap { case (id, t) =>
      tokens(t).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq.distinct
        .map(_ -> id)
    }
    val kept = sh.groupByKey().flatMap { case (s, ids) =>
      val v = ids.toSeq
      if (v.size <= 5) v.map(s -> _) else Nil
    }
    val sizes = kept.map { case (_, id) => id -> 1L }.reduceByKey(_ + _)
    val inter = kept.groupByKey().flatMap { case (_, ids) =>
      val v = ids.toSeq.sorted
      for (i <- v.indices; j <- i + 1 until v.size) yield (v(i), v(j)) -> 1L
    }.reduceByKey(_ + _)
    inter.map { case ((a, b), i) => a -> (b, i) }.join(sizes)
      .map { case (a, ((b, i), na)) => b -> (a, i, na) }.join(sizes)
      .map { case (b, ((a, i, na), nb)) => (a, b, i.toDouble / (na + nb - i).toDouble) }
      .filter(_._3 >= 0.8)
  }

  /** Fingerprint of a TeraSort output directory and whether its part
    * files, read in name order, hold one globally ascending key run. */
  def sortedOutput(spark: SparkSession, out: String): (Fingerprint, Boolean) = {
    val df = spark.read.parquet(out).select(col("key"), col("value"),
      input_file_name().as("f"))
    // per (file) segment: first key, last key, rows, ascending within
    val segs = df.rdd.mapPartitions { it =>
      val acc = mutable.LinkedHashMap[String, (Array[Byte], Array[Byte], Long, Boolean)]()
      it.foreach { r =>
        val k = r.getAs[Array[Byte]](0)
        val f = r.getString(2)
        acc.get(f) match {
          case None => acc(f) = (k, k, 1L, true)
          case Some((first, last, n, ok)) =>
            acc(f) = (first, k, n + 1, ok && unsignedCompare(last, k) <= 0)
        }
      }
      acc.iterator.map { case (f, (a, b, n, ok)) => (f, a, b, n, ok) }
    }.collect().sortBy(_._1)
    val byFile = segs.groupBy(_._1)
    val ordered = byFile.values.forall(_.length == 1) && segs.forall(_._5) &&
      segs.sliding(2).forall {
        case Array(x, y) => unsignedCompare(x._3, y._2) <= 0
        case _ => true
      }
    (Fingerprint.ofRdd(df.rdd.map(r => Seq[Any](r.getAs[Array[Byte]](0),
      r.getAs[Array[Byte]](1)))), ordered)
  }

  private def unsignedCompare(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }
}
