package recordbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Runs one workload of the benchmark of record in this JVM and writes
  * its result line (and, traced, its spans) to the given files.
  *
  * `--workload etl_scan|serve --seed N --seconds S --trace 0|1
  *  --work DIR --out FILE [--spans FILE]`
  *
  * Order: set up (median of the rounds → `setup_s`), prepare the check
  * references, warm up, run whole steps of the closed loop until S
  * seconds have passed, then check every output and compute the
  * metrics. Only the loop's ops are timed into them.
  */
object Main {

  private val t0 = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"[recordbench] ${(System.nanoTime() - t0) / 1e9}%.1fs $what")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"recordbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    phase("session up")

    val w: Workload = workload match {
      case "etl_scan" => new Etl(spark, seed, work, cores,
        baseOrders = 15000, reps = 3, nDocs = 2000, teraRows = 150000)
      case "serve" => new Serve(spark, seed, work, cores,
        nDocs = 3000, batchSize = 30, appendDocs = 30, deleteDocs = 6, probes = 6)
      case other => sys.error(s"unknown workload $other")
    }

    try {
      val setups = (0 until w.setupRounds).map { r =>
        val t0 = System.nanoTime()
        w.setup(r)
        phase(s"setup round $r")
        (System.nanoTime() - t0) / 1e9
      }
      w.prepare()
      phase("prepared")
      val tracer = new Tracer(spark, traced)
      tracer.span("run", workload, "bench") {
        w.warmup(tracer)
        phase("warmed up")
        tracer.startWindow()
        val t0 = System.nanoTime()
        while ((System.nanoTime() - t0) / 1e9 < seconds) w.step(tracer)
      }
      tracer.close()
      phase("loop done")
      val out = w.finish(tracer)
      phase("checked")

      val metrics = if (traced) out.perLayer
        else Metric("setup_s", Stats.median(setups), "s") +:
          Metric("ops_ok_frac", 1.0 - out.failed.toDouble / math.max(1L, out.attempted),
            "ratio") +: out.endToEnd
      val result = Json.obj(Seq(
        "correct" -> Json.Bool(out.failed == 0 && out.attempted > 0),
        "attempted" -> Json.num(out.attempted),
        "failed" -> Json.num(out.failed),
        "metrics" -> Json.obj(metrics.map(m =>
          m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))))
      val info = Json.obj(Seq("workload" -> Json.str(workload), "seed" -> Json.num(seed),
        "cores" -> Json.num(cores),
        "heap_bytes" -> Json.num(Runtime.getRuntime.maxMemory.toDouble),
        "setup_rounds_s" -> Json.arr(setups.map(Json.num)),
        "window_s" -> Json.num(seconds)) ++ out.info)
      opt.get("spans").filter(_ => traced).foreach(p =>
        write(p, tracer.toJson(Seq("info" -> info))))
      write(opt("out"), info.render + "\n" + result.render + "\n")
    } finally spark.stop()
  }

  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
}
