package recordbench

/** Per-layer metrics, computed from a traced run's spans. Every traced
  * run reports the whole list; a layer a workload does not drive reads
  * 0 there. Names are `<layer>.<metric>[.<op>]`. */
object Layers {

  val EtlJobs: Seq[String] =
    Seq("o2_secsort", "j1_join", "a1_wordcount", "dd4_ngram", "p1_clean", "terasort")
  val RetrievalOps: Seq[String] = Seq("bm25", "maxscore", "phrase", "near", "sharded")

  /** (name, unit) in report order. */
  val names: Seq[(String, String)] =
    EtlJobs.flatMap(j => Seq(s"sources.rows_read.$j" -> "rows",
      s"sources.bytes_read.$j" -> "bytes")) ++
    EtlJobs.flatMap(j => Seq(s"queries.plan_s.$j" -> "s", s"queries.exec_s.$j" -> "s")) ++
    Seq("shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
      "shuffle.spill_bytes" -> "bytes", "exec.run_s" -> "s", "exec.cpu_s" -> "s",
      "exec.gc_s" -> "s", "exec.cpu_util" -> "ratio", "spark.jobs" -> "count",
      "spark.tasks" -> "count", "driver.gc_s" -> "s") ++
    RetrievalOps.flatMap(o => Seq(s"retrieval.control_s.$o" -> "s",
      s"retrieval.control_jobs.$o" -> "count", s"retrieval.exec_s.$o" -> "s",
      s"retrieval.exec_jobs.$o" -> "count", s"retrieval.rows_read.$o" -> "rows",
      s"retrieval.rows_read_per_hit.$o" -> "ratio",
      s"retrieval.shuffle_bytes.$o" -> "bytes")) ++
    Seq("fusion.control_s.hybrid" -> "s", "fusion.exec_s.hybrid" -> "s",
      "fusion.rows_read.hybrid" -> "rows",
      "index.append_s" -> "s", "index.append_jobs" -> "count", "index.delete_s" -> "s",
      "index.fold_s" -> "s", "index.compact_s" -> "s", "index.bytes_written" -> "bytes",
      "index.write_amp" -> "ratio", "index.files" -> "count", "index.bytes" -> "bytes",
      "refresh.serve_control_s" -> "s", "refresh.serve_exec_s" -> "s",
      "refresh.serve_rows_read" -> "rows")

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** `extra` supplies the storage facts the spans do not hold
    * (`index.files`, `index.bytes`). */
  def metrics(t: Tracer, cores: Int, extra: Map[String, Double]): Seq[Metric] = {
    val spans = t.window
    val ops = spans.filter(_.kind == "op")
    val kidsOf = spans.groupBy(_.parent)
    def opTotal(op: Span, k: String): Double =
      kidsOf.getOrElse(op.id, Nil).filter(s => s.kind == "call" || s.kind == "exec")
        .map(_(k)).sum
    def perOp(k: String): Double = Stats.mean(ops.map(opTotal(_, k)))

    def regions(kind: String, name: String, layer: String): Seq[Span] =
      spans.filter(s => s.kind == kind && s.name == name && s.layer == layer)
    def wall(kind: String, name: String, layer: String): Double =
      med(regions(kind, name, layer).map(_.seconds))
    def count(kind: String, name: String, layer: String, k: String): Double =
      med(regions(kind, name, layer).map(_(k)))
    // call + exec of one op instance, matched by parent
    def both(name: String, layer: String, k: String): Double = med(
      spans.filter(s => s.kind == "call" && s.name == name && s.layer == layer).map { c =>
        c(k) + spans.filter(e => e.kind == "exec" && e.parent == c.parent &&
          e.name == name && e.layer == layer).map(_(k)).sum
      })

    val m = scala.collection.mutable.Map[String, Double]()
    EtlJobs.foreach { j =>
      val layer = if (j == "terasort") "sources" else "queries"
      m(s"sources.rows_read.$j") = both(j, layer, "input_rows")
      m(s"sources.bytes_read.$j") = both(j, layer, "input_bytes")
      m(s"queries.plan_s.$j") = wall("call", j, layer)
      m(s"queries.exec_s.$j") = wall("exec", j, layer)
    }
    m("shuffle.write_bytes") = perOp("shuffle_write_bytes")
    m("shuffle.read_bytes") = perOp("shuffle_read_bytes")
    m("shuffle.spill_bytes") = perOp("spill_bytes")
    m("exec.run_s") = perOp("run_s")
    m("exec.cpu_s") = perOp("cpu_s")
    m("exec.gc_s") = perOp("gc_s")
    val opWall = ops.map(_.seconds).sum
    m("exec.cpu_util") =
      if (opWall > 0) ops.map(opTotal(_, "cpu_s")).sum / (opWall * cores) else 0.0
    m("spark.jobs") = perOp("jobs")
    m("spark.tasks") = perOp("tasks")
    m("driver.gc_s") = Stats.mean(ops.map(_("driver_gc_s")))
    RetrievalOps.foreach { o =>
      m(s"retrieval.control_s.$o") = wall("call", o, "retrieval")
      m(s"retrieval.control_jobs.$o") = count("call", o, "retrieval", "jobs")
      m(s"retrieval.exec_s.$o") = wall("exec", o, "retrieval")
      m(s"retrieval.exec_jobs.$o") = count("exec", o, "retrieval", "jobs")
      val rows = both(o, "retrieval", "input_rows")
      val hits = count("exec", o, "retrieval", "hits")
      m(s"retrieval.rows_read.$o") = rows
      m(s"retrieval.rows_read_per_hit.$o") = if (hits > 0) rows / hits else 0.0
      m(s"retrieval.shuffle_bytes.$o") = both(o, "retrieval", "shuffle_write_bytes")
    }
    m("fusion.control_s.hybrid") = wall("call", "hybrid", "fusion")
    m("fusion.exec_s.hybrid") = wall("exec", "hybrid", "fusion")
    m("fusion.rows_read.hybrid") = both("hybrid", "fusion", "input_rows")
    m("index.append_s") = wall("call", "append", "index")
    m("index.append_jobs") = count("call", "append", "index", "jobs")
    m("index.delete_s") = wall("call", "delete", "index")
    m("index.fold_s") = wall("call", "fold", "index")
    m("index.compact_s") = wall("call", "compact", "index")
    val written = count("call", "append", "index", "output_bytes")
    val user = count("call", "append", "index", "user_bytes")
    m("index.bytes_written") = written
    m("index.write_amp") = if (user > 0) written / user else 0.0
    val serves = Seq("serve_bm25", "serve_phrase")
    m("refresh.serve_control_s") = med(serves.flatMap(regions("call", _, "retrieval")).map(_.seconds))
    m("refresh.serve_exec_s") = med(serves.flatMap(regions("exec", _, "retrieval")).map(_.seconds))
    m("refresh.serve_rows_read") = med(serves.flatMap(regions("call", _, "retrieval")).map { c =>
      c("input_rows") + spans.filter(e => e.kind == "exec" && e.parent == c.parent &&
        e.name == c.name).map(_("input_rows")).sum
    })
    extra.foreach { case (k, v) => m(k) = v }
    names.map { case (n, u) => Metric(n, m.getOrElse(n, 0.0), u) }
  }
}
