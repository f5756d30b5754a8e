package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Retrieval

/** Per-batch Spark JOB COUNT probe for the MaxScore serving control
  * plane (round 20) — the fused-control-plane claim is a reduced
  * engaged-path job count (each driver job carries ~0.3-0.5 s of fixed
  * control latency at the 1e7 decade, the round-19-adjudicated
  * dominant serving cost), so count jobs directly via listener on ONE
  * serving call per arm, without DevMaxScore's full timed/assert
  * protocol (the asserts re-collect the exact plan four times — ~20
  * min at 1e6 nq=100 — irrelevant to the job count). Run on two
  * checkouts for a before/after table.
  *
  * Arms: exact bm25Query; forced-engagement MaxScore on the plain and
  * block-max layouts; natural-dial MaxScore; phrase and NEAR over the
  * positional twin (their control plane was fused in the same round).
  *
  * Round-21 additions:
  *  - an optional third arg selects arms by name (comma-separated;
  *    default = the round-20 six, so prior tables reproduce verbatim);
  *  - `overcap` / `overcapExact` arms: the NATURAL batch at an nq
  *    large enough that the control rows overflow `maxControlRows`
  *    naturally (nq ≥ ~2731 at 3 terms/query) — `overcap` serves via
  *    [[Retrieval.bm25QueryMaxScore]] (the round-21 CHUNKED over-cap
  *    path), `overcapExact` via [[Retrieval.bm25Query]] (what every
  *    over-cap batch paid before round 21). The exact arm runs ONE
  *    timed pass after the counted one (no median — it is the ~22×
  *    cliff being measured, minutes per pass at 1e6);
  *  - per-job PLAN TRACES (VERDICT r20 ask #5): every counted arm
  *    writes `plans/r21/msjobs_<tag>_jobs.txt` — one line per job
  *    fired during the counted serving call, carrying the job id, its
  *    SQL execution id, and the HEAD LINE of that execution's physical
  *    plan (from SparkListenerSQLExecutionStart) — so a control-plane
  *    fusion produces a diffable artifact whose line count matches the
  *    printed jobs/batch. Set SPARK_GRAFT_MSJOBS_DUMP to override the
  *    directory; empty disables.
  *
  * `sbt "Test/runMain graft.DevMsJobs [nDocs] [nq] [arms-csv]"` —
  * reuses /tmp/graft-scale fixtures; builds indexes if absent.
  */
object DevMsJobs {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 1000000L
    val nqTarget = if (args.length > 1) args(1).toLong else 100L
    val armFilter: Set[String] = if (args.length > 2)
      args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet
    else Set("exact", "forced", "forcedBlockmax", "maxscoreNatDials",
      "phrase", "near8")
    val spark = SparkSession.builder()
      .master("local[32,4]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    import spark.implicits._

    val jobCounter = new java.util.concurrent.atomic.AtomicInteger()
    // execution id -> physical plan head line (the first node of the
    // formatted description), kept bounded; job trace rows accumulate
    // only between trace(start)/trace(stop)
    val planHeads = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val traceRows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var tracing = false
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobCounter.incrementAndGet()
          if (tracing) {
            val eid = Option(js.properties)
              .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            val head = eid.flatMap(e =>
              Option(planHeads.get(e.toLong))).getOrElse("(no SQL execution)")
            traceRows.add(s"job=${js.jobId} execId=${eid.getOrElse("-")} " +
              s"plan: $head")
          }
        }
        override def onOtherEvent(
            e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
          case s: org.apache.spark.sql.execution.ui
              .SparkListenerSQLExecutionStart =>
            // head = the first distinctive plan-node lines of the
            // description (skip banners and the bare AQE wrapper — a
            // trace of identical "AdaptiveSparkPlan" lines diffs
            // nothing)
            val head = s.physicalPlanDescription.linesIterator
              .map(_.trim)
              .filterNot(l => l.isEmpty || l.startsWith("==") ||
                l.startsWith("AdaptiveSparkPlan") ||
                l.startsWith("+- == "))
              .take(2).mkString(" | ")
            planHeads.put(s.executionId, head)
          case _ => ()
        }
      })
    def countJobs(tag: String)(body: => Unit): Unit = {
      val b = jobCounter.get(); tracing = true; body
      var last = -1; var cur = jobCounter.get()
      while (cur != last) { Thread.sleep(300); last = cur; cur = jobCounter.get() }
      tracing = false
      println(s"[msjobs] n=$n $tag jobs/batch=${cur - b}")
      val dumpDir = sys.env.getOrElse("SPARK_GRAFT_MSJOBS_DUMP", "plans/r21")
      if (dumpDir.nonEmpty) {
        val p = java.nio.file.Paths.get(dumpDir)
        java.nio.file.Files.createDirectories(p)
        val sb = new StringBuilder
        sb.append(s"# DevMsJobs per-job plan trace: n=$n arm=$tag " +
          s"jobs/batch=${cur - b}\n")
        traceRows.forEach(r => { sb.append(r).append('\n'); () })
        java.nio.file.Files.writeString(
          p.resolve(s"msjobs_${tag}_jobs.txt"), sb.toString)
      }
      traceRows.clear()
      System.out.flush()
    }

    val dir = s"/tmp/graft-scale/zdocs$n"
    if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
      sources.Generators.zipfText(spark, n, seed = 11L, partitions = 32)
        .select(col("id").as("doc_id"), col("text"))
        .write.mode("overwrite").parquet(dir)
    }
    val corpus = spark.read.parquet(dir)
    def haveTable(t: String) = spark.sessionState.catalog.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier(t))
    val table = s"devms_$n"
    if (!haveTable(table))
      Retrieval.bm25Build(corpus, "doc_id", "text", table, buckets = 32)
    def needArm(as: String*) = as.exists(armFilter)
    val tableBm = s"devmsbm_$n"
    if (needArm("forcedBlockmax") && !haveTable(tableBm))
      Retrieval.bm25Build(corpus, "doc_id", "text", tableBm, buckets = 32,
        blockMax = true)
    val tablePos = s"devmspos_$n"
    if (needArm("phrase", "near8") && !haveTable(tablePos))
      Retrieval.bm25Build(corpus, "doc_id", "text", tablePos, buckets = 32,
        positions = true)

    val dict = spark.table(s"${table}_terms")
      .groupBy("term").agg(sum("df").as("df"))
    val topHead = dict.orderBy(col("df").desc).limit(1)
      .as[(String, Long)].collect().head._1
    val natural = corpus.filter(col("doc_id") % (n / nqTarget) === 0)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 3)).as("qtext"))
      .localCheckpoint()
    val qdf = natural.select(col("qid"),
        explode(split(col("qtext"), " ")).as("term"))
      .join(dict, Seq("term"), "left").na.fill(0L, Seq("df"))
      .groupBy("qid").agg(min("df").as("mindf"))
    val mixed = natural.join(
        qdf.filter(col("mindf") <= n / 1000).select("qid"), "qid")
      .select(col("qid"), concat_ws(" ", col("qtext"), lit(topHead))
        .as("qtext"))
      .localCheckpoint()
    println(s"[msjobs] n=$n mixed nq=${mixed.count()} " +
      s"natural nq=${natural.count()}")

    // one warm pass per arm (codegen/broadcast caches), then the
    // counted pass and a median-of-3 timed read — the job count is the
    // structural claim, the wall is what the fused control plane
    // actually buys (AQE schedules one listener-visible job per
    // materialized stage, so a fused driver ACTION does not subtract
    // a full unit from the listener count; the eliminated cost is the
    // action's fixed planning+submit latency, visible in the wall)
    def arm(tag: String, timedRuns: Int = 3, warm: Boolean = true)
           (mk: => org.apache.spark.sql.DataFrame): Unit = {
      if (!armFilter(tag)) return
      if (warm) mk.count()
      countJobs(tag) { mk.count() }
      if (timedRuns > 0) {
        val ts = (0 until timedRuns).map { _ =>
          val t0 = System.nanoTime(); mk.count()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        println(f"[msjobs] n=$n $tag wall=${ts(timedRuns / 2)}%.2fs " +
          f"(runs ${ts.map(t => f"$t%.2f").mkString(", ")})")
      }
      System.out.flush()
    }
    arm("exact") {
      Retrieval.bm25Query(spark, table, mixed, "qid", "qtext", 5) }
    arm("forced") {
      Retrieval.bm25QueryMaxScore(spark, table, mixed, "qid", "qtext", 5,
        gateMinHeadMass = 1L, gateCandFrac = 1.0) }
    arm("forcedBlockmax") {
      Retrieval.bm25QueryMaxScore(spark, tableBm, mixed, "qid", "qtext", 5,
        gateMinHeadMass = 1L, gateCandFrac = 1.0) }
    arm("maxscoreNatDials") {
      Retrieval.bm25QueryMaxScore(spark, table, mixed, "qid", "qtext", 5) }
    // ---- round-21 over-cap arms. A NATURALLY over-cap batch needs
    // nq ≥ ~2731 (3 terms/query × 2^13), and a 1e6-corpus natural
    // batch that size OOM-spills an 8 GiB local box on ANY plan (its
    // all-head queries alone carry ~1e9 aggregate rows) — so the
    // chunked-vs-exact contrast is measured at the ROUTING level
    // instead: the natural nq batch with `graft.maxControlRows`
    // (the documented test dial) forced to 128, which makes the SAME
    // batch overflow the cap exactly as a 40× larger batch would at
    // the production 2^13.
    //  - `naturalMs`: the batch at production cap (in-cap engaged
    //    baseline — what chunking aspires to);
    //  - `overcap`: cap=128 → ~⌈nq/44⌉ chunks through the round-21
    //    CHUNKED path;
    //  - `overcapExact`: cap=128 on the PRE-round-21 routing, i.e.
    //    the exact plan the over-cap batch used to fall to
    //    (bm25Query — byte-identical to what bm25QueryMaxScore
    //    returned past the cap before this round); ONE timed pass.
    arm("naturalMs") {
      Retrieval.bm25QueryMaxScore(spark, table, natural, "qid", "qtext", 5) }
    arm("overcap") { TestProps.withControlCap(128) {
      Retrieval.bm25QueryMaxScore(spark, table, natural, "qid", "qtext", 5) } }
    // the MIXED batch (every query carries the df≈N head term — the
    // 22× cliff's shape) forced over-cap: pre-round-21 this routed to
    // the exact arm above (~140 s measured this session); chunked it
    // serves engaged per chunk
    arm("overcapMixed") { TestProps.withControlCap(128) {
      Retrieval.bm25QueryMaxScore(spark, table, mixed, "qid", "qtext", 5,
        gateMinHeadMass = 1L, gateCandFrac = 1.0) } }
    arm("overcapExact", timedRuns = 1, warm = false) {
      Retrieval.bm25Query(spark, table, natural, "qid", "qtext", 5) }
    arm("phrase") {
      Retrieval.bm25PhraseQuery(spark, tablePos, natural, "qid", "qtext", 5) }
    arm("near8") {
      Retrieval.bm25ProximityQuery(spark, tablePos, natural, "qid",
        "qtext", 5, window = 8) }
    spark.stop()
  }
}
