package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Aggregators, Det, GraftFunctions}
import graft.operators._
import graft.sources.TeraSort
import graft.streaming.Windows

/** The declared query corpus (SURVEY.md §2 ids) + training-data pipeline
  * queries, each as a (SparkSession, sfDir) => DataFrame, with a DuckDB
  * oracle where the semantics are ANSI-SQL-expressible.
  *
  * Determinism rules (oracle hash gate):
  *  - every query ends in a total-order `orderBy`;
  *  - integer results stay integers end-to-end (DuckDB side casts
  *    HUGEINT sums back to BIGINT);
  *  - doubles are produced by op-for-op identical IEEE expressions in
  *    both engines (see Det.scala) — no engine `round()` on doubles.
  */
object Queries {

  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)

  /** Whitespace words of the documents corpus, empties dropped. */
  private def words(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(explode(TextOps.tokens(col("text"))).as("word"))

  private val wordsSql =
    """WITH w0 AS (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents),
      |wf AS (SELECT word FROM w0 WHERE length(word) > 0)""".stripMargin

  // ---------------------------------------------------------------- A: aggregation

  val a1_wordcount: Q = (s, d) =>
    words(s, d).groupBy("word").agg(count(lit(1)).as("cnt")).orderBy("word")

  val a1Sql: String =
    s"""$wordsSql
       |SELECT word, count(*) AS cnt FROM wf GROUP BY word ORDER BY word""".stripMargin

  /** Both the uncapped count and an ACTIVE cap (10 < the 25 brands per
    * type, so the cap path is exercised): the capped count is
    * deterministically min(distinct, cap), hence oracle-able as LEAST.
    */
  val a2_uniq: Q = (s, d) =>
    Tables.part(s, d)
      .groupBy("p_type")
      .agg(
        Aggregators.cappedDistinct(Int.MaxValue)(col("p_brand")).as("uniq_brands"),
        Aggregators.cappedDistinct(10)(col("p_brand")).as("capped_brands"))
      .orderBy("p_type")

  val a3_histogram: Q = (s, d) =>
    Tables.customer(s, d)
      .groupBy(col("c_mktsegment").as("seg"))
      .agg(Aggregators.valueHistogram(col("c_nationkey").cast("string")).as("r"))
      .select(col("seg"), col("r.n_distinct").as("n_distinct"),
        col("r.min_cnt").as("min_cnt"), col("r.med_cnt").as("med_cnt"),
        col("r.max_cnt").as("max_cnt"), col("r.avg_cnt").as("avg_cnt"),
        col("r.std_cnt").as("std_cnt"))
      .orderBy("seg")

  val a4_aggstats: Q = (s, d) =>
    docs(s, d).groupBy("source").agg(
      count(lit(1)).as("n_rec"),
      sum("n_chars").as("sum_chars"),
      min("n_chars").as("min_chars"),
      max("n_chars").as("max_chars"),
      min("lang").as("min_lang"),
      max("lang").as("max_lang"))
      .orderBy("source")

  /** HLL sketch gate (the approx path of UniqValueCount — SURVEY §2.5
    * maps the cap to `approx_count_distinct`): a group id is emitted iff
    * the HLL estimate lands within 5% of the exact distinct count. The
    * oracle (which can't run Spark's HLL) asserts EVERY group passes —
    * same recall-gate pattern as sim2/sim3.
    */
  val a5_approxuniq: Q = (s, d) => {
    val exact = Tables.part(s, d).groupBy("p_type")
      .agg(count_distinct(col("p_brand")).as("exact"))
    val approx = Tables.part(s, d).groupBy("p_type")
      .agg(approx_count_distinct(col("p_brand")).as("est"))
    exact.join(approx, "p_type")
      .filter(abs(col("est") - col("exact")).cast("double") <=
        col("exact").cast("double") * 0.05)
      .select("p_type").orderBy("p_type")
  }

  // ---------------------------------------------------------------- S: word stats

  val s1_wordmean: Q = (s, d) =>
    words(s, d)
      .agg(count(lit(1)).as("n_words"), sum(length(col("word"))).as("sum_len"))
      .select(col("n_words"), col("sum_len"),
        (col("sum_len").cast("double") / col("n_words")).as("mean_len"))

  val s2_wordmedian: Q = (s, d) => {
    val h = words(s, d).groupBy(length(col("word")).as("len"))
      .agg(count(lit(1)).as("cnt"))
    // histogram is tiny (distinct word lengths) — single-partition window OK
    val cum = h.withColumn("cum", sum("cnt").over(Window.orderBy("len")))
    val tot = h.agg(sum("cnt").as("n"))
    cum.crossJoin(tot)
      .filter(col("cum") >= floor(col("n") / 2) + 1)
      .agg(min(col("len")).cast("long").as("median_len"))
  }

  val s3_wordstddev: Q = (s, d) => {
    val l = length(col("word"))
    words(s, d)
      .agg(sum(l).as("sl"), sum(l * l).as("sq"), count(lit(1)).as("n"))
      .select(sqrt(
        (col("sq").cast("double") -
          col("sl").cast("double") * col("sl").cast("double") / col("n")) /
          col("n")).as("std_len"))
  }

  // ---------------------------------------------------------------- G: grep

  val grepPattern = "s[a-z]+"

  val g1_grep: Q = (s, d) =>
    docs(s, d)
      .select(explode(regexp_extract_all(col("text"), lit(grepPattern), lit(0))).as("m"))
      .groupBy("m").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("m"))

  // ---------------------------------------------------------------- F: fieldsel / sampled scans

  val f1_fieldsel: Q = (s, d) => {
    val line = concat_ws("\t",
      col("l_orderkey").cast("string"), col("l_linenumber").cast("string"),
      col("l_returnflag"), col("l_linestatus"))
    val (k, v) = FieldSel.keyValue(line, "\t", "2,0:1,3-")
    li(s, d).select(k.as("k"), v.as("v")).orderBy("k", "v")
  }

  val f2_md5sample: Q = (s, d) =>
    li(s, d).filter(SampleFilters.md5Filter(col("l_orderkey")))
      .select("l_orderkey", "l_linenumber")
      .orderBy("l_orderkey", "l_linenumber")

  val f3_regexscan: Q = (s, d) =>
    docs(s, d).filter(SampleFilters.regexFilter(col("text"), "the [a-z]+"))
      .select("doc_id", "n_chars").orderBy("doc_id")

  // ---------------------------------------------------------------- O: sorts

  val o1_sort: Q = (s, d) =>
    li(s, d).select(col("l_orderkey"), col("l_linenumber"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship"))
      .orderBy("ship", "l_orderkey", "l_linenumber")

  val o2_secsort: Q = (s, d) =>
    li(s, d).groupBy("l_orderkey")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("l_shipdate"), col("l_linenumber")))),
          x => x.getField("l_linenumber").cast("string")),
        ",").as("lines"))
      .orderBy("l_orderkey")

  val o3_terasort: Q = (s, _) => TeraSort.kernel(s, 200000L)

  /** Secondary sort through the STREAMING group iterator
    * (GroupStream.mapSortedGroups — the MR reduce contract, O(1) group
    * memory): same answer as o2, whose collect_list materializes each
    * group. Shares o2's oracle, so a broken shuffle-sort arrangement or
    * group-boundary bug diverges from the array-sort formulation.
    */
  val o6_streamgroups: Q = (s, d) => {
    import s.implicits._
    val rows = li(s, d).select(col("l_orderkey").as("k"),
        col("l_shipdate").as("sd"), col("l_linenumber").as("ln"))
      .as[(Long, java.sql.Timestamp, Long)]
    GroupStream.mapSortedGroups(rows, Seq("k"), Seq("sd", "ln"))(_._1) {
      (k, it) =>
        val sb = new StringBuilder
        it.foreach { r =>
          if (sb.nonEmpty) sb.append(',')
          sb.append(r._3)
        }
        Iterator((k, sb.toString))
    }.toDF("l_orderkey", "lines").orderBy("l_orderkey")
  }

  // ---------------------------------------------------------------- J: joins

  val j1_join: Q = (s, d) =>
    li(s, d).join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        // cents via the shared Det expression (floor(x*100+0.5)) — engine
        // round() on doubles diverges between Spark and DuckDB
        sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).as("revenue_cents"))
      .orderBy("o_orderpriority")

  val j2_outer: Q = (s, d) => {
    val oc = Tables.orders(s, d).groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"))
    Tables.customer(s, d)
      .join(oc, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_mktsegment"), col("n_orders"))
      .orderBy("custkey")
  }

  val j3_override: Q = (s, d) => {
    val n = Tables.nation(s, d).select(col("n_nationkey").as("k"), col("n_name").as("v"))
    val su = Tables.supplier(s, d).select(col("s_nationkey").as("k"), col("s_name").as("v"))
    OverrideJoin.overrideJoin(Seq(n, su), "k").orderBy("k", "v")
  }

  /** Bucketed co-located join (CompositeInputFormat's map-side merge
    * precondition, `core:mapreduce/lib/join/CompositeInputFormat.java:
    * 120-130`): both sides persisted bucketed+sorted on the join key, so
    * the join itself runs with no exchange — same answer as j1 through
    * the pre-partitioned plan.
    */
  val j5_bucketed: Q = (s, d) => {
    BucketedJoin.writeBucketed(
      li(s, d).select(col("l_orderkey"), col("l_extendedprice")),
      "j5_lineitem", "l_orderkey", 8)
    BucketedJoin.writeBucketed(
      Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"),
        col("o_orderpriority")),
      "j5_orders", "l_orderkey", 8)
    BucketedJoin.join(s, "j5_lineitem", "j5_orders", "l_orderkey")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).as("revenue_cents"))
      .orderBy("o_orderpriority")
  }

  /** As-of join (no reference or Spark-native analog — a training-data
    * staple): each probe event matched to the latest strictly-earlier
    * event of the same user. Gated against DuckDB's NATIVE ASOF JOIN,
    * so the union+window formulation is checked by an independent
    * implementation of the same semantics. Right side pre-aggregated to
    * one row per (user, ts) for determinism.
    */
  val j6_asof: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val probes = ev.filter(col("event_id") % 20 === 0)
      .select(col("event_id"), col("user_id"), col("ts"))
    val ref = ev.groupBy("user_id", "ts").agg(max("value").as("rv"))
    AsOfJoin.asOfStrict(probes, ref, "user_id", "ts", "ts", "rv")
      .select(col("event_id"), col("user_id"),
        date_format(col("prior_ts"), "yyyy-MM-dd HH:mm:ss").as("prior_ts"),
        col("prior_val"))
      .orderBy("event_id")
  }

  /** Keyless range join (binned interval join — no equi key anywhere):
    * sampled events define 2-hour windows; every event is matched to
    * every window containing it through the bucket equi-join, never a
    * cartesian. Oracle = the plain theta join in SQL.
    */
  val j7_range: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val windows = ev.filter(col("event_id") % 500 === 0)
      .select(col("event_id").as("wid"), col("ts").as("ws"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("we"))
    RangeJoin.pointInInterval(
        ev.select(col("event_id"), col("ts")), "ts",
        windows, "ws", "we", binWidthSec = 2 * 3600)
      .groupBy("wid").agg(count(lit(1)).as("n"))
      .orderBy("wid")
  }

  /** Salted skew join gate: j1's fact⋈dim aggregate replayed through
    * Skew.saltedEquiJoin (salt 8 on the linenumber discriminator) —
    * identical oracle to j1, so a salt-replication or salt-routing bug
    * (dropped/duplicated rows for any key) fails the hash compare. The
    * explicit-salting path is what spreads a single hot KEY across
    * reducers when AQE's partition-level splitting can't.
    */
  val j8_salted: Q = (s, d) => {
    val fact = li(s, d).select(col("l_orderkey"), col("l_linenumber"),
      col("l_extendedprice"))
    val dim = Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"),
      col("o_orderpriority"))
    Skew.saltedEquiJoin(fact, dim, "l_orderkey", 8, "l_linenumber")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).as("revenue_cents"))
      .orderBy("o_orderpriority")
  }

  /** Sampled hot-key report gate (dd2-style recall intersection): a key
    * is emitted iff its EXACT row share is ≥ 0.2 AND the single-pass
    * sampled reporter (10% Bernoulli sample, one scan) surfaced it. The
    * oracle recomputes the exact side, so a sampling miss of a truly-hot
    * key drops a row and fails the hash gate. Margins are wide by
    * construction: the hot keys carry ~⅓ of rows each, so the sampled
    * estimate sits thousands of rows above the slack-lowered cut-off.
    */
  val j9_hotkeys: Q = (s, d) => {
    val found = Skew.hotKeysSampled(li(s, d), col("l_returnflag"),
        threshold = 0.2, fraction = 0.1, seed = 7L)
      .select(col("key"))
    val exact = li(s, d).groupBy(col("l_returnflag").as("key"))
      .agg(count(lit(1)).as("n"))
    val tot = exact.agg(sum("n").as("t"))
    exact.crossJoin(broadcast(tot))
      .filter(col("n") >= col("t") * 0.2)
      .join(found, "key")
      .select("key").orderBy("key")
  }

  /** Reduce-side tagged join (`tools:hadoop-datajoin`:
    * `DataJoinMapperBase.java` tags records by source,
    * `DataJoinReducerBase.java` buffers per-tag groups at the reducer and
    * crosses them): both sources shuffle on the key, `cogroup` hands each
    * key's per-source iterators to one function, which materializes the
    * groups (the MarkableIterator mark/reset idiom,
    * `core:mapreduce/task/ReduceContextImpl.java:184-210`) and applies an
    * arbitrary within-group theta — here, strictly-ordered order-date
    * pairs per customer, which no equi-join expresses directly.
    */
  val j4_cogroup: Q = (s, d) => {
    import s.implicits._
    val c = Tables.customer(s, d)
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
      .as[(Long, String)]
    val o = Tables.orders(s, d)
      .select(col("o_custkey").as("k"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("dt"))
      .as[(Long, Long)]
    c.groupByKey(_._1).cogroup(o.groupByKey(_._1)) { case (k, cs, os) =>
      if (cs.isEmpty || os.isEmpty) Iterator.empty
      else {
        val seg = cs.next()._2
        // Stream the orders side ONCE (GroupStream.strictlyOrderedPairs):
        // closed-form pair count, O(n) time, O(distinct dates) memory —
        // a hot key with 10⁷ orders holds only its date histogram,
        // bounded by the calendar, never the rows.
        val (n, pairs) = GroupStream.strictlyOrderedPairs(os.map(_._2))
        Iterator((k, seg, n, pairs))
      }
    }.toDF("custkey", "seg", "n_orders", "n_pairs").orderBy("custkey")
  }

  /** MapFile point-lookup parity (`io:MapFile.java:681-715` get/seek on a
    * sorted, indexed KV file): the sorted parquet copy gives tight
    * row-group min/max stats, and the IN-list filter is pushed to the
    * scan (PushedFilters), so a lookup touches only the row groups whose
    * range covers a key — the index-skip behavior of MapFile.Reader.
    */
  val mf1_lookup: Q = (s, d) => {
    val p = graft.sources.Io.scratch("mf1", d)
    Tables.part(s, d).select(col("p_partkey"), col("p_name"))
      .orderBy("p_partkey")
      .write.mode("overwrite").parquet(p)
    s.read.parquet(p)
      .filter(col("p_partkey").isin(1L, 101L, 201L, 301L, 999999L))
      .orderBy("p_partkey")
  }

  /** MapFile `getClosest` parity (`io:MapFile.java:681-715`): nearest
    * key at-or-before and at-or-after each probe over a SPARSE sorted
    * key set (partkeys divisible by 7 — dense keys would make every
    * lookup an exact hit and prove nothing). Probes cover below-min
    * (before → NULL), exact hit, two off-grid gaps, and above-max
    * (after → NULL) — the reference's null-return contract.
    */
  val mf2_closest: Q = (s, d) => {
    val sparse = Tables.part(s, d)
      .filter(col("p_partkey") % 7 === 0)
      .select(col("p_partkey"), col("p_name"))
    val probes = Seq(-5L, 7L, 50L, 699L, 1000000000L)
    val before = graft.sources.Io
      .mapFileGetClosest(sparse, "p_partkey", "p_name", probes, before = true)
      .withColumnRenamed("closest_key", "before_key")
      .withColumnRenamed("closest_val", "before_val")
    val after = graft.sources.Io
      .mapFileGetClosest(sparse, "p_partkey", "p_name", probes)
      .withColumnRenamed("closest_key", "after_key")
      .withColumnRenamed("closest_val", "after_val")
    before.join(after, "probe").orderBy("probe")
  }

  /** har-style archive gate (d1's pattern of constructing its own
    * external fixture): every document is written as an individual
    * small file from executor tasks, the directory is packed into the
    * sorted-parquet indexed archive, and the MEMBER LISTING read back
    * from the archive — (path, size) with content column-pruned off the
    * scan — must match the documents table's own byte accounting
    * (UTF-8 octet length). Certifies write→pack→indexed-read end to
    * end; the in-place member-content lookup is spec-gated
    * (DistCopySpec) since DuckDB can't read the loose files.
    */
  val ar1_archive: Q = (s, d) => {
    val dir = graft.sources.Io.scratch("ar1-loose", d)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val driverFs = dirPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    driverFs.delete(dirPath, true)
    driverFs.mkdirs(dirPath)
    // loose files are written THROUGH the Hadoop FileSystem API from the
    // executor tasks (the DistCopy pattern): the staging path resolves
    // against the cluster's shared filesystem on every executor, not the
    // driver's local disk — a java.nio write here would scatter members
    // across executor-local disks on a real cluster
    val confBc = s.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        s.sparkContext.hadoopConfiguration))
    docs(s, d).select(
        concat(col("doc_id").cast("string"), lit(".txt")).as("rel"),
        col("text"))
      .repartition(8)
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(confBc.value.value)
        rows.foreach { r =>
          val out = fs.create(
            new org.apache.hadoop.fs.Path(dir, r.getString(0)), true)
          try out.write(
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
        }
      }
    val arc = s"$dir-packed"
    DistCopy.archive(s, dir, arc)
    DistCopy.archiveList(s, arc).orderBy("path")
  }

  // ---------------------------------------------------------------- D / M / U

  /** DBCountPageView (reference `ex:DBCountPageView.java:61-177`): a REAL
    * JDBC round trip on embedded Derby — load the access log into the
    * database, range-partitioned `read.jdbc` back out (DataDrivenDB
    * splits on ID), count pageviews per url, batched `write.jdbc` of the
    * result, read THAT back, and self-verify input/output sum equality
    * (`DBCountPageView.verify()` :255, invoked :426) before returning.
    * The returned frame comes from the database, so the parquet oracle
    * certifies the whole in→agg→out→read chain. Identifiers are
    * uppercase to survive Derby's unquoted-identifier normalization.
    */
  val d1_pageview: Q = (s, d) => {
    val dbDir = s"/tmp/graft-derby/db${(d.hashCode & Int.MaxValue)}"
    val url = s"jdbc:derby:$dbDir;create=true"
    System.setProperty("derby.stream.error.file", "/tmp/graft-derby/derby.log")
    val log = docs(s, d).select(col("doc_id").as("ID"), col("source").as("URL"))
    graft.sources.Jdbc.write(log, url, "ACCESS_LOG")
    val in = graft.sources.Jdbc.readPartitioned(s, url, "ACCESS_LOG", "ID", 8)
    val counts = in.groupBy("URL").agg(count(lit(1)).as("PAGEVIEW"))
    graft.sources.Jdbc.write(counts, url, "PAGEVIEW_COUNTS")
    val out = graft.sources.Jdbc.read(s, url, "PAGEVIEW_COUNTS")
    val totalIn = in.count()
    val totalOut = out.agg(sum("PAGEVIEW")).head().getLong(0)
    require(totalIn == totalOut,
      s"DBCountPageView verify failed: in=$totalIn out=$totalOut")
    out.select(col("URL").as("url"), col("PAGEVIEW").as("pageview"))
      .orderBy("url")
  }

  val m1_pi: Q = (s, _) => MonteCarlo.piEstimate(s, 100000L)

  /** BBP digit extraction (`ex:BaileyBorweinPlouffe.java` shape): one row
    * per hex-digit position of π, computed independently (map-only).
    * The oracle pins the well-known first 32 hex digits — the Spark side
    * must actually compute them.
    */
  val m2_bbp: Q = (s, _) => {
    import s.implicits._
    s.range(1, 33).map(i => (i, Bbp.hexDigitAt(i))).toDF("pos", "digit")
      .orderBy("pos")
  }

  /** Pentomino exact cover (`ex:dancing/DistributedPentomino.java`
    * shape): prefix-split search, one subtree per task; gated on the
    * published 3×20 solution count (2, up to board symmetry).
    */
  val m4_pentomino: Q = (s, _) =>
    Pentomino.solveDistributed(s, 3, 20)
      .select(col("rows"), col("cols"), col("n_solutions"))

  /** First 32 hex digits of π after the radix point (public constant). */
  private val piHex = "243F6A8885A308D313198A2E03707344"

  /** π to 50 decimals (public constant) — the m5 oracle. */
  private val piDec =
    "3.14159265358979323846264338327950288419716939937510"

  /** DistSum (`ex:pi/DistSum.java` shape): arbitrary-precision series
    * summation with the index space split across tasks; exact partials
    * make the split invisible. Gated on the first 50 decimals of π.
    */
  val m5_distsum: Q = (s, _) => DistSum.pi(s, 50)

  /** Distributed backtracking search (`ex:dancing/Sudoku.java` shape):
    * the search space fans out over candidate prefixes, one independent
    * subtree per task. The puzzle (40 blanks) has exactly one solution,
    * which the oracle pins.
    */
  val m3_sudoku: Q = (s, _) =>
    Sudoku.solveDistributed(s,
      "103050709050709020709020406030507090507090204090204060305070902070902040902040608")

  /** Map-side pipe through a REAL transforming subprocess (`tr` to
    * uppercase — the corpus is pure ASCII, so engine upper() semantics
    * agree): a pass-through `cat` would certify only the plumbing.
    */
  val u1_pipe: Q = (s, d) => {
    import s.implicits._
    val lines = docs(s, d).select("text").as[String]
    val piped = Pipe.pipeMap(lines, Seq("tr", "[:lower:]", "[:upper:]"))
    piped.select(explode(TextOps.tokens(col("value"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt")).orderBy("word")
  }

  // ---------------------------------------------------------------- I: non-parquet ingestion

  /** KV-text round trip (TextOutputFormat → KeyValueTextInputFormat):
    * lineitem rendered as `orderkey \t returnflag \t linestatus` lines;
    * kvText splits on the FIRST tab only, so the value keeps its embedded
    * tab (the KeyValueLineRecordReader contract) and is re-split for the
    * aggregate. The oracle runs on the original parquet — a green row
    * proves the text render/parse chain is lossless.
    */
  val i1_kvtext: Q = (s, d) => {
    val p = graft.sources.Io.scratch("i1", d)
    graft.sources.Io.tsv(
      li(s, d).select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus")), p)
    val kv = graft.sources.Io.kvText(s, p)
    val f = split(col("v"), "\t")
    kv.select(element_at(f, 1).as("flag"), element_at(f, 2).as("status"))
      .groupBy("flag", "status").agg(count(lit(1)).as("n"))
      .orderBy("flag", "status")
  }

  /** Fixed-length binary ingestion (FixedLengthInputFormat): 17-byte
    * records (12-digit orderkey, 4-digit linenumber, newline) written as
    * padded text lines — every line is exactly recordLen bytes, so
    * binaryRecords splits are record-aligned across all part files.
    */
  val i2_fixedlen: Q = (s, d) => {
    val p = graft.sources.Io.scratch("i2", d)
    graft.sources.Io.tsv(
      li(s, d).select(concat(
        lpad(col("l_orderkey").cast("string"), 12, "0"),
        lpad(col("l_linenumber").cast("string"), 4, "0")).as("rec")), p)
    val str = decode(col("record"), "US-ASCII")
    graft.sources.Io.fixedLength(s, p, 17)
      .select(substring(str, 1, 12).cast("long").as("ok"),
        substring(str, 13, 4).cast("long").as("ln"))
      .agg(count(lit(1)).as("n_rec"), sum("ok").as("sum_orderkey"),
        sum("ln").as("sum_linenumber"))
  }

  /** SequenceFile round trip (SequenceFileOutputFormat →
    * SequenceFileInputFormat, Text KV).
    */
  val i3_seqfile: Q = (s, d) => {
    val p = graft.sources.Io.scratch("i3", d)
    graft.sources.Io.sequenceFile(
      Tables.part(s, d).select(col("p_partkey"), col("p_type")), p)
    graft.sources.Io.sequenceFile(s, p)
      .groupBy(col("v").as("p_type"))
      .agg(count(lit(1)).as("n"),
        min(col("k").cast("long")).as("min_key"),
        max(col("k").cast("long")).as("max_key"))
      .orderBy("p_type")
  }

  /** Binary SequenceFile round trip (SequenceFileAsBinaryOutputFormat →
    * SequenceFileAsBinaryInputFormat): keys are 8-byte big-endian
    * orderkeys (leading ZERO bytes by construction), values embed a NUL,
    * a TAB, and a LF — the bytes that break any line-oriented carrier.
    * The gate decodes key and value fields back out and checks counts,
    * key ranges, and the exact 5-byte value length per record, so a
    * single corrupted/truncated byte fails the oracle.
    */
  val i5_binseq: Q = (s, d) => {
    val p = graft.sources.Io.scratch("i5", d)
    val kv = li(s, d).select(
      // 8-byte big-endian key (ANSI mode forbids a direct long→binary
      // cast; hex-pad-unhex builds the same bytes)
      unhex(lpad(hex(col("l_orderkey")), 16, "0")).as("k"),
      concat(col("l_returnflag").cast("binary"), lit(Array[Byte](0x00)),
        col("l_linestatus").cast("binary"),
        lit(Array[Byte](0x09, 0x0A))).as("v"))
    graft.sources.Io.sequenceFileBinary(kv, p)
    val back = graft.sources.Io.sequenceFileBinary(s, p)
    back.select(
        conv(hex(col("k")), 16, 10).cast("long").as("ok"),
        decode(substring(col("v"), 1, 1), "US-ASCII").as("flag"),
        decode(substring(col("v"), 3, 1), "US-ASCII").as("status"),
        length(col("v")).as("vlen"))
      .groupBy("flag", "status")
      .agg(count(lit(1)).as("n"), min("ok").as("min_key"),
        max("ok").as("max_key"), sum("vlen").as("sum_vlen"))
      .orderBy("flag", "status")
  }

  /** Typed JDBC splitter gate (DateSplitter,
    * `core:mapreduce/lib/db/DateSplitter.java`): orders land in Derby
    * with a DATE column, are read back through date-range predicates
    * (readPartitionedTyped dispatches on the column's JDBC type), and the
    * query REQUIRES ≥4 genuinely non-empty partitions before gating the
    * per-month aggregate against the parquet oracle.
    */
  val d2_datesplit: Q = (s, d) => {
    val dbDir = s"/tmp/graft-derby/db2_${d.hashCode & Int.MaxValue}"
    val url = s"jdbc:derby:$dbDir;create=true"
    System.setProperty("derby.stream.error.file", "/tmp/graft-derby/derby.log")
    val orders = Tables.orders(s, d).select(col("o_orderkey").as("ID"),
      col("o_orderdate").cast("date").as("ODATE"))
    graft.sources.Jdbc.write(orders, url, "ORDERS_BY_DATE")
    val in = graft.sources.Jdbc.readPartitionedTyped(
      s, url, "ORDERS_BY_DATE", "ODATE", 6)
    val nonEmpty = in.groupBy(spark_partition_id().as("pid"))
      .count().filter(col("count") > 0).count()
    require(nonEmpty >= 4,
      s"date splits produced only $nonEmpty non-empty partitions")
    in.groupBy(date_format(col("ODATE"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n"), sum("ID").as("sum_keys"))
      .orderBy("month")
  }

  /** Char-offset sort-key gate (`-k f.c[,f.c]`,
    * `core:mapreduce/lib/partition/KeyFieldBasedComparator.java:36-60` /
    * `KeyFieldHelper.java`): sorting on the MONTH characters of the date
    * field (-k2.6,2.7) orders year-first dates month-first — an ordering
    * no whole-field spec produces — then numerically by orderkey, with a
    * full-line tiebreak pinning the total order.
    */
  val o5_charsort: Q = (s, d) => {
    val lines = Tables.orders(s, d).select(concat_ws("\t",
      col("o_orderkey").cast("string"),
      date_format(col("o_orderdate"), "yyyy-MM-dd")).as("line"))
    lines.orderBy(
      SortSpec.sortCols(col("line"), "\t", "-k2.6,2.7 -k1,1n") :+ col("line").asc: _*)
  }

  /** Partitioned output (MultipleOutputFormat filename-from-key,
    * `core:mapred/lib/MultipleOutputFormat.java:56-144`): orders written
    * `partitionBy(o_orderpriority)` as text, read back raw, and the
    * partition value recovered FROM THE FILE PATH (`input_file_name`) —
    * also covering the per-input-file record counting of
    * `ValueAggregatorBaseDescriptor.java:140-156`. The oracle over the
    * original parquet proves no record crossed into a wrong partition
    * file.
    */
  val k1_partitioned: Q = (s, d) => {
    val p = graft.sources.Io.scratch("k1", d)
    graft.sources.Io.partitionedTsv(
      Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
      p, "o_orderpriority")
    // Partition dir names are Hadoop-escaped (%xx for specials, e.g.
    // "NOT%20SPECIFIED"); url_decode reverses that, with '+' pre-escaped
    // because URL decoding (unlike Hadoop escaping) would turn a literal
    // '+' into a space.
    val rawPrio = regexp_extract(input_file_name(), "o_orderpriority=([^/]+)", 1)
    s.read.text(p)
      .select(url_decode(regexp_replace(rawPrio, "\\+", "%2B")).as("prio"),
        col("value").cast("long").as("okey"))
      .groupBy("prio")
      .agg(count(lit(1)).as("n"), sum("okey").as("sum_keys"))
      .orderBy("prio")
  }

  /** Skip-bad-records gate (`jc-test:mapred/TestBadRecords.java`
    * semantics): a deterministic subset of rows is rendered unparseable;
    * safeMap must drop exactly those, counting them in the accumulator,
    * and the survivors' sum must match. Report-shaped: the single
    * aggregate row is collected so the accumulator (populated only after
    * the action, like MR counters) can be emitted alongside.
    */
  val c1_safemap: Q = (s, d) => {
    import s.implicits._
    val lines = li(s, d).select(
      when(col("l_linenumber") % 7 === 0, lit("bad"))
        .otherwise(col("l_orderkey").cast("string")).as("v")).as[String]
    val (parsed, acc) = Pipe.safeMapCounted(lines, "c1_bad")(_.toLong)
    val row = parsed.toDF("k")
      .agg(count(lit(1)).as("n_good"), sum("k").as("sum_parsed")).head()
    Seq((row.getLong(0), acc.value: Long, row.getLong(1)))
      .toDF("n_good", "n_bad", "sum_parsed")
  }

  /** GNU-sort key-spec gate (`-k2,2nr -k1,1`,
    * `core:mapreduce/lib/partition/KeyFieldBasedComparator.java:36-60`)
    * over TSV lines; a full-line tiebreak pins a total order for the
    * hash compare.
    */
  val o4_sortspec: Q = (s, d) => {
    val lines = li(s, d).select(concat_ws("\t",
      col("l_orderkey").cast("string"),
      col("l_quantity").cast("long").cast("string")).as("line"))
    lines.orderBy(
      SortSpec.sortCols(col("line"), "\t", "-k2,2nr -k1,1") :+ col("line").asc: _*)
  }

  /** Reducer-side pipe gate (`stream:PipeReducer.java:40-77` contract):
    * records routed by the first numKeyFields=2 tab fields, each key
    * group contiguous+sorted at ONE subprocess, awk folds per-key sums.
    * A broken partition/sort contract would split keys across processes
    * and break the per-key totals.
    */
  val u2_pipereduce: Q = (s, d) => {
    val lines = li(s, d).select(concat_ws("\t",
      col("l_returnflag"), col("l_linestatus"),
      col("l_quantity").cast("long").cast("string")).as("line"))
    val piped = Pipe.pipeReduce(lines, "line",
      Seq("awk", "-F", "\t",
        "{s[$1\"\\t\"$2] += $3} END {for (k in s) print k\"\\t\"s[k]}"),
      numKeyFields = 2)
    val f = split(col("value"), "\t")
    piped.toDF("value")
      .select(element_at(f, 1).as("flag"), element_at(f, 2).as("status"),
        element_at(f, 3).cast("long").as("qty"))
      .groupBy("flag", "status").agg(sum("qty").as("sum_qty"))
      .orderBy("flag", "status")
  }

  /** Tag-delimited record ingestion (StreamXmlRecordReader,
    * `stream:StreamXmlRecordReader.java`): documents rendered as
    * `<doc>id|fingerprint</doc>` records, re-read by splitting on the end
    * tag, parsed, and compared against the parquet-side fingerprints.
    */
  val i4_xml: Q = (s, d) => {
    val p = graft.sources.Io.scratch("i4", d)
    graft.sources.Io.tsv(
      docs(s, d).select(concat(lit("<doc>"), col("doc_id"), lit("|"),
        TextOps.fingerprint(col("text")), lit("</doc>")).as("r")), p)
    val f = split(col("record"), "\\|")
    graft.sources.Io.xmlRecords(s, p, "<doc>", "</doc>")
      .select(element_at(f, 1).cast("long").as("doc_id"),
        element_at(f, 2).as("fp"))
      .orderBy("doc_id")
  }

  /** MultipleInputs: heterogeneous sources (kv-text lineitem + parquet
    * orders) normalized to a common schema and unioned — the
    * DelegatingInputFormat/TaggedInputSplit shape as `unionByName`.
    */
  val mi1_multi: Q = (s, d) => {
    val p = graft.sources.Io.scratch("mi1", d)
    graft.sources.Io.tsv(li(s, d).select(col("l_orderkey"), col("l_linenumber")), p)
    val a = graft.sources.Io.kvText(s, p)
      .select(lit("lineitem").as("src"), col("k").cast("long").as("key"))
    val b = Tables.orders(s, d)
      .select(lit("orders").as("src"), col("o_orderkey").as("key"))
    a.unionByName(b).groupBy("src")
      .agg(count(lit(1)).as("n"), count_distinct(col("key")).as("n_keys"))
      .orderBy("src")
  }

  // ---------------------------------------------------------------- DD: dedup

  val dd1_exact: Q = (s, d) =>
    Dedup.exact(docs(s, d), "text", "doc_id").orderBy("doc_id")

  /** MinHash recall gate: every exact near-dup pair (uncapped word-3-gram
    * Jaccard ≥ 0.8) must be recovered by the MinHash+LSH banding path
    * (16 bands × 4 rows ⇒ P(miss | J=0.8) ≈ 2e-4, and the hash seeds are
    * fixed, so the outcome is deterministic). The oracle computes the
    * exact pair set in SQL; a banding miss drops a row and fails the
    * row/hash gate.
    */
  val dd2_minhash: Q = (s, d) => {
    val exact = Dedup.ngramJaccardPairs(docs(s, d), "text", "doc_id",
      k = 3, threshold = 0.8, maxShingleFreq = Int.MaxValue)
      .select("ida", "idb")
    val mh = Dedup.minhashLshPairs(docs(s, d), "text", "doc_id")
      .select("ida", "idb")
    exact.join(mh, Seq("ida", "idb")).orderBy("ida", "idb")
  }

  /** SimHash recall gate. The corpus has no exactly-equal texts, so the
    * gate constructs them: every document is unioned with an identical
    * copy at doc_id+1e6, and simhashPairs must recover ALL (i, i+1e6)
    * pairs at hamming 0 — guaranteed by construction (identical text →
    * identical signature → identical 16-bit chunks → banding collision),
    * so the oracle is simply every doc_id. A broken signature, banding
    * join, or hamming expression drops rows and fails the gate.
    */
  val dd3_simhash: Q = (s, d) => {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val dup = base.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Dedup.simhashPairs(base.unionByName(dup), "text", "doc_id")
      .filter(col("idb") === col("ida") + 1000000L)
      .select("ida", "idb", "hamming").orderBy("ida", "idb")
  }

  /** dd3's planted-duplicate recall through the SHARDED execution
    * path: three pmod(key)-restricted band passes unioned and deduped
    * must find every planted pair the single pass finds — the
    * spill-bounding dial (BASELINE.md's 1e7 wall-crossing) gated under
    * the same rows+schema+hash oracle. (The query unions the passes in
    * one plan; at scale they run sequentially — the gate is about the
    * partition of the band-key space, which is execution-order
    * independent.)
    */
  val dd9_simhash_sharded: Q = (s, d) => {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val dup = base.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val all = base.unionByName(dup)
    val shards = 3
    (0 until shards)
      .map(sh => Dedup.simhashPairs(all, "text", "doc_id",
        shards = shards, shard = sh))
      .reduce(_ unionByName _)
      .dropDuplicates("ida", "idb")
      .filter(col("idb") === col("ida") + 1000000L)
      .select("ida", "idb", "hamming").orderBy("ida", "idb")
  }

  /** Gated WITH the hot-shingle cap active (maxShingleFreq=5 suppresses
    * real shingles at sf0.01 — max observed freq there is 7), so the
    * oracle exercises the skew guard, not just the happy path.
    */
  val dd4_ngram: Q = (s, d) =>
    Dedup.ngramJaccardPairs(docs(s, d), "text", "doc_id",
      k = 3, threshold = 0.8, maxShingleFreq = 5)
      .orderBy("ida", "idb")

  /** Cluster-level dedup gate: connected components over the dd4 pair
    * graph (min-label propagation), one canonical min-id per near-dup
    * CLUSTER — the transitive closure the pairwise drop policy
    * under-merges. Oracle = a recursive CTE over the same SQL pair set
    * (reachable-label min per node), so a propagation bug that splits
    * or merges a component hash-mismatches.
    */
  val dd7_components: Q = (s, d) => {
    val pairs = Dedup.ngramJaccardPairs(docs(s, d), "text", "doc_id",
      k = 3, threshold = 0.8, maxShingleFreq = 5)
    Dedup.connectedComponents(pairs, "ida", "idb")
      .select(col("id").as("doc_id"), col("component"))
      .orderBy("doc_id")
  }

  /** dd7's graph through the OTHER algorithm: propagateRounds = 0
    * forces the large-star/small-star contraction path (the O(log)
    * fallback for adversarial long chains), gated against the same
    * recursive-CTE oracle — both algorithms must agree with the exact
    * transitive closure.
    */
  val dd8_components_star: Q = (s, d) => {
    val pairs = Dedup.ngramJaccardPairs(docs(s, d), "text", "doc_id",
      k = 3, threshold = 0.8, maxShingleFreq = 5)
    Dedup.connectedComponents(pairs, "ida", "idb", propagateRounds = 0)
      .select(col("id").as("doc_id"), col("component"))
      .orderBy("doc_id")
  }

  /** Incremental-dedup gate (index-once / dedup-batches, the sim5
    * pattern applied to MinHash): the corpus is indexed once
    * (minhashIndexBuild → persisted bucketed band/signature tables),
    * then a batch — every 10th doc re-submitted at doc_id+1e6 —
    * is checked against the standing index. Gated dd2-style as a recall
    * intersection: emit (batch_id, corpus_id) iff the EXACT batch↔corpus
    * 3-gram Jaccard is ≥ 0.8 AND the index lookup found the pair; the
    * oracle recomputes the exact side in SQL, so an index/lookup miss
    * (bad persisted layout, banding, or verification join) drops a row
    * and fails the hash gate. Identical resubmissions (Jaccard 1.0)
    * are found by construction; near-dup recall is the dd2 banding math.
    */
  val dd5_incdedup: Q = (s, d) => {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val table = s"dd5_idx_${d.hashCode & Int.MaxValue}"
    Dedup.minhashIndexBuild(base, "text", "doc_id", table)
    val batch = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val found = Dedup.minhashDedupAgainst(s, table, batch, "text", "doc_id")
      .select(col("corpus_id"), col("batch_id"))
    val exact = Dedup.ngramJaccardPairs(base.unionByName(batch), "text", "doc_id",
        k = 3, threshold = 0.8, maxShingleFreq = Int.MaxValue)
      .filter(col("ida") < 1000000L && col("idb") >= 1000000L)
      .select(col("ida").as("corpus_id"), col("idb").as("batch_id"))
    exact.join(found, Seq("corpus_id", "batch_id"))
      .orderBy("corpus_id", "batch_id")
  }

  /** Incremental-index APPEND gate (the dd5 chain, but the index is
    * GROWN, not built whole): the standing index starts WITHOUT the
    * batch's source documents (doc_id % 10 ≠ 0), which then arrive via
    * [[Dedup.minhashIndexAppend]] — so every (source, copy) pair the
    * gate demands is findable ONLY if the appended rows landed in the
    * bucketed layout correctly. Oracle identical to dd5 (the full
    * corpus is indexed either way): append-built ≡ whole-built.
    */
  val dd6_incappend: Q = (s, d) => {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val table = s"dd6_idx_${d.hashCode & Int.MaxValue}"
    Dedup.minhashIndexBuild(base.filter(col("doc_id") % 10 =!= 0),
      "text", "doc_id", table)
    Dedup.minhashIndexAppend(s, table,
      base.filter(col("doc_id") % 10 === 0), "text", "doc_id")
    val batch = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val found = Dedup.minhashDedupAgainst(s, table, batch, "text", "doc_id")
      .select(col("corpus_id"), col("batch_id"))
    val exact = Dedup.ngramJaccardPairs(base.unionByName(batch), "text", "doc_id",
        k = 3, threshold = 0.8, maxShingleFreq = Int.MaxValue)
      .filter(col("ida") < 1000000L && col("idb") >= 1000000L)
      .select(col("ida").as("corpus_id"), col("idb").as("batch_id"))
    exact.join(found, Seq("corpus_id", "batch_id"))
      .orderBy("corpus_id", "batch_id")
  }

  /** SHARDED-ADMISSION gate ([[graft.operators.Dedup
    * .minhashDedupAgainstSharded]]): the corpus indexes as TWO
    * doc-disjoint admission shards (the layout when the dedup
    * signature/band tables outgrow one table), the batch is hashed
    * once and checked against the family — the union of per-shard
    * co-located lookups must find exactly the pairs the whole-built
    * index does: the dd5 oracle verbatim.
    */
  val dd12_shardedadmit: Q = (s, d) => {
    import graft.operators.Sharding
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val t0 = s"dd12a_${d.hashCode & Int.MaxValue}"
    val t1 = s"dd12b_${d.hashCode & Int.MaxValue}"
    Dedup.minhashIndexBuild(
      base.filter(Sharding.shardOf(col("doc_id"), 2) === 0),
      "text", "doc_id", t0)
    Dedup.minhashIndexBuild(
      base.filter(Sharding.shardOf(col("doc_id"), 2) === 1),
      "text", "doc_id", t1)
    val batch = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val found = Dedup.minhashDedupAgainstSharded(s, Seq(t0, t1), batch,
        "text", "doc_id")
      .select(col("corpus_id"), col("batch_id"))
    val exact = Dedup.ngramJaccardPairs(base.unionByName(batch), "text",
        "doc_id", k = 3, threshold = 0.8, maxShingleFreq = Int.MaxValue)
      .filter(col("ida") < 1000000L && col("idb") >= 1000000L)
      .select(col("ida").as("corpus_id"), col("idb").as("batch_id"))
    exact.join(found, Seq("corpus_id", "batch_id"))
      .orderBy("corpus_id", "batch_id")
  }

  /** Admission RESHARD gate ([[graft.operators.Dedup.splitShard]]):
    * shard 0 of the dd12 family splits into two hierarchical children
    * (signature/band rows rehashed by doc id, parent retired) and the
    * 3-shard family's check must still find exactly the whole-index
    * pairs — the dd5 oracle verbatim: admission resharding never
    * changes a decision.
    */
  val dd13_splitadmit: Q = (s, d) => {
    import graft.operators.{BucketedJoin, Sharding}
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val t0 = s"dd13a_${d.hashCode & Int.MaxValue}"
    val t1 = s"dd13b_${d.hashCode & Int.MaxValue}"
    val (c0, c1) = (s"${t0}x", s"${t0}y")
    BucketedJoin.dropWithLocation(s, Sharding.splitMarker(t0))
    Dedup.minhashIndexBuild(
      base.filter(Sharding.shardOf(col("doc_id"), 2) === 0),
      "text", "doc_id", t0)
    Dedup.minhashIndexBuild(
      base.filter(Sharding.shardOf(col("doc_id"), 2) === 1),
      "text", "doc_id", t1)
    Dedup.splitShard(s, t0, c0, c1, shardIndex = 0, nShards = 2)
    val batch = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val found = Dedup.minhashDedupAgainstSharded(s, Seq(c0, c1, t1), batch,
        "text", "doc_id")
      .select(col("corpus_id"), col("batch_id"))
    val exact = Dedup.ngramJaccardPairs(base.unionByName(batch), "text",
        "doc_id", k = 3, threshold = 0.8, maxShingleFreq = Int.MaxValue)
      .filter(col("ida") < 1000000L && col("idb") >= 1000000L)
      .select(col("ida").as("corpus_id"), col("idb").as("batch_id"))
    exact.join(found, Seq("corpus_id", "batch_id"))
      .orderBy("corpus_id", "batch_id")
  }

  /** Admission MERGE gate ([[graft.operators.Dedup.mergeShards]]) — the
    * dd13 contract run backwards: two shard-built admission indexes
    * fold into one (signature/band row unions rebucketed, parents
    * retired) and the single-index check must still find exactly the
    * whole-index pairs — the dd5 oracle verbatim: shrinking the family
    * never changes a decision.
    */
  val dd14_mergeadmit: Q = (s, d) => {
    import graft.operators.{BucketedJoin, Sharding}
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val t0 = s"dd14a_${d.hashCode & Int.MaxValue}"
    val t1 = s"dd14b_${d.hashCode & Int.MaxValue}"
    val m = s"dd14m_${d.hashCode & Int.MaxValue}"
    BucketedJoin.dropWithLocation(s, Sharding.mergeMarker(m))
    Dedup.minhashIndexBuild(
      base.filter(Sharding.shardOf(col("doc_id"), 2) === 0),
      "text", "doc_id", t0)
    Dedup.minhashIndexBuild(
      base.filter(Sharding.shardOf(col("doc_id"), 2) === 1),
      "text", "doc_id", t1)
    Dedup.mergeShards(s, t0, t1, m)
    val batch = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val found = Dedup.minhashDedupAgainst(s, m, batch, "text", "doc_id")
      .select(col("corpus_id"), col("batch_id"))
    val exact = Dedup.ngramJaccardPairs(base.unionByName(batch), "text",
        "doc_id", k = 3, threshold = 0.8, maxShingleFreq = Int.MaxValue)
      .filter(col("ida") < 1000000L && col("idb") >= 1000000L)
      .select(col("ida").as("corpus_id"), col("idb").as("batch_id"))
    exact.join(found, Seq("corpus_id", "batch_id"))
      .orderBy("corpus_id", "batch_id")
  }

  /** Tombstone-DELETION gate (dd6 inverted): the index holds the whole
    * corpus, then every 20th document is taken down via Tombstones.add.
    * The batch re-submits every 10th document verbatim under id+1e6;
    * an identical resubmission finds its source with certainty
    * (identical signature ⇒ same band keys, est_jaccard 1.0), so
    * restricted to (corpus_id + 1e6 = batch_id) pairs the result is
    * DETERMINISTIC: exactly the non-deleted sources. A deleted doc
    * still matching ADDS a row (hash mismatch); an index/lookup defect
    * DROPS one. The oracle is pure SQL over the documents table.
    */
  val dd10_tombstone: Q = (s, d) => {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val table = s"dd10_idx_${d.hashCode & Int.MaxValue}"
    Dedup.minhashIndexBuild(base, "text", "doc_id", table)
    Tombstones.add(s, table,
      base.filter(col("doc_id") % 20 === 0).select("doc_id"), "doc_id")
    val batch = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Dedup.minhashDedupAgainst(s, table, batch, "text", "doc_id")
      .filter(col("corpus_id") + 1000000L === col("batch_id"))
      .select(col("corpus_id"), col("batch_id"))
      .orderBy("corpus_id")
  }

  /** dd10 after the PHYSICAL fold (grown-with-tombstones ≡ rebuilt-
    * without): same takedown, but minhashFoldTombstones rewrites the
    * band/signature tables and clears the set before the check — the
    * same oracle passing proves the fold preserves query semantics
    * exactly and the consulted set is gone.
    */
  val dd11_tombfold: Q = (s, d) => {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val table = s"dd11_idx_${d.hashCode & Int.MaxValue}"
    Dedup.minhashIndexBuild(base, "text", "doc_id", table)
    Tombstones.add(s, table,
      base.filter(col("doc_id") % 20 === 0).select("doc_id"), "doc_id")
    Dedup.minhashFoldTombstones(s, table)
    val batch = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Dedup.minhashDedupAgainst(s, table, batch, "text", "doc_id")
      .filter(col("corpus_id") + 1000000L === col("batch_id"))
      .select(col("corpus_id"), col("batch_id"))
      .orderBy("corpus_id")
  }

  /** Flagship training-data composition: the full cleaning pipeline a
    * corpus pass runs — exact dedup (keep the smallest id per content
    * digest) → near-dup removal (word-3-gram Jaccard ≥ 0.8 with the
    * hot-shingle cap, larger id of each pair dropped) → quality floor
    * (≥ 5 tokens). Every stage is individually gated elsewhere
    * (dd1/dd4/t1); this gates their composition end-to-end.
    */
  val p1_clean: Q = (s, d) => {
    val base = docs(s, d)
    // winner row per content digest in ONE pass: min_by carries the
    // winner's payload through the digest shuffle, replacing the
    // groupBy→join-back-on-id shape (second corpus scan + an id
    // exchange; measured ~0.5 s slower at sf0.1, and at 100 TB a whole
    // extra wide shuffle)
    val uniq = base.groupBy(md5(col("text")).as("digest"))
      .agg(min_by(struct(col("doc_id"), col("text")), col("doc_id")).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.text").as("text"))
    val dropped = Dedup.ngramJaccardPairs(uniq, "text", "doc_id",
        k = 3, threshold = 0.8, maxShingleFreq = 5)
      .select(col("idb").as("doc_id")).distinct()
    uniq.join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))
      .filter(col("n_tokens") >= 5)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- T: text analysis

  val t1_tokens: Q = (s, d) =>
    docs(s, d).select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))
      .orderBy("doc_id")

  val t2_quality: Q = (s, d) =>
    TextOps.qualityMetrics(docs(s, d), "text", "doc_id").orderBy("doc_id")

  val t3_langid: Q = (s, d) =>
    docs(s, d).select(col("doc_id"), TextOps.langId(col("text")).as("pred_lang"))
      .orderBy("doc_id")

  val t4_fingerprint: Q = (s, d) =>
    docs(s, d).select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** Two-pass corpus-global scoring (perplexity-filter shape, exact
    * integers): global token frequencies joined back to score each
    * document. Docs with no tokens are absent (inner semantics) — the
    * oracle mirrors that.
    */
  val t5_commonality: Q = (s, d) =>
    TextOps.commonality(docs(s, d), "text", "doc_id")
      .withColumnRenamed("id", "doc_id").orderBy("doc_id")

  /** Overlapping chunking for long-document training prep (100-char
    * chunks, 20 overlap): 1→N explode, map-only.
    */
  val t6_chunks: Q = (s, d) =>
    docs(s, d)
      .select(col("doc_id"), explode(TextOps.chunk(col("text"), 100, 20)).as("c"))
      .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
        col("c.chunk").as("chunk"))
      .orderBy("doc_id", "chunk_idx")

  /** PII redaction over deterministically injected emails / IPs /
    * account numbers (the corpus has none of its own) — both engines
    * inject and redact identically.
    */
  val t7_redact: Q = (s, d) =>
    docs(s, d)
      .select(col("doc_id"), TextOps.redact(concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com from 10.0.0."),
        col("doc_id") % 256, lit(" acct "), col("doc_id") + 1234567))
        .as("red"))
      .orderBy("doc_id")

  /** Deterministic md5-bucket train/val/test split: per-doc assignment +
    * the split sizes, stable under any resharding.
    */
  val f4_split: Q = (s, d) =>
    docs(s, d)
      .select(col("doc_id"), TextOps.splitAssign(col("doc_id")).as("split"))
      .orderBy("doc_id")

  /** Degenerate-text detection: duplicate word-3-gram counts per doc
    * (total vs distinct; a high duplicate fraction marks loops/boiler-
    * plate — the standard repetition rule). Exact integers from the
    * native shingle kernel.
    */
  val t8_dupngrams: Q = (s, d) => {
    GraftFunctions.ensureRegistered(s)
    val toks = TextOps.tokens(col("text"))
    docs(s, d).select(col("doc_id"),
        greatest(size(toks) - 2, lit(0)).cast("long").as("n_3grams"),
        size(GraftFunctions.wordShingles(toks, 3)).cast("long").as("n_distinct"))
      .orderBy("doc_id")
  }

  /** Training-shard packing via the distributed two-pass prefix sum
    * (Shards.packByTokenBudget): documents in doc_id order packed into
    * ~1000-token shards. The oracle computes the same exclusive running
    * total with a window — correct only if the partition-offset
    * bookkeeping is exact, so one mis-offset partition diverges.
    */
  val t9_shardpack: Q = (s, d) => {
    val withTokens = docs(s, d).select(col("doc_id"),
      TextOps.tokenCount(col("text")).as("n_tokens"))
    Shards.packByTokenBudget(withTokens, "doc_id", "n_tokens", 1000L)
      .orderBy("doc_id")
  }

  /** BM25 retrieval gate over the persisted inverted index
    * (Retrieval.bm25Build/bm25Query): queries = every 50th document's
    * first three tokens, k=5. Scores are integer micro-units (each
    * term's contribution rounded to 1e-6 and summed as a long — long
    * addition is associative, so the total is partial-agg-order
    * independent AND bit-identical to DuckDB's sum of the same rounded
    * partials; a double score would drift in the last ULP by summation
    * order alone). The oracle recomputes full BM25 from the raw
    * documents table, so a tokenizer, tf/df/dl, stats-fold, scoring, or
    * ranking defect all surface as value mismatches.
    */
  val t16_bm25: Q = (s, d) => {
    val table = s"bm25_${d.hashCode & Int.MaxValue}"
    Retrieval.bm25Build(docs(s, d), "doc_id", "text", table)
    Retrieval.bm25Query(s, table, bm25Queries(s, d), "qid", "qtext", 5)
      .orderBy("qid", "rnk")
  }

  /** BM25 APPEND gate (the dd6/sim7 grown-index contract for the
    * lexical index): build on the even documents only, absorb the odd
    * half via Retrieval.bm25Append — postings and df deltas re-bucket,
    * stats fold at query time — and answer the SAME oracle as t16 (full
    * BM25 over the whole corpus). Passing requires grown ≡ whole-built
    * exactly: a df delta lost, a stats row missed, or a posting landed
    * in the wrong bucket shifts scores or ranks.
    */
  val t17_bm25append: Q = (s, d) => {
    val table = s"bm25a_${d.hashCode & Int.MaxValue}"
    Retrieval.bm25Build(docs(s, d).filter(col("doc_id") % 2 === 0),
      "doc_id", "text", table)
    Retrieval.bm25Append(s, table,
      docs(s, d).filter(col("doc_id") % 2 === 1), "doc_id", "text")
    Retrieval.bm25Query(s, table, bm25Queries(s, d), "qid", "qtext", 5)
      .orderBy("qid", "rnk")
  }

  /** BM25 DELETION gate: the index holds the whole corpus, every 5th
    * document is deleted via bm25Delete (tombstones only — df/N/avgdl
    * corrections derive at query time from postings ∩ tombstones), and
    * the oracle indexes only the retained slice: scores must be
    * BIT-identical to a fresh build without the deleted docs. Note the
    * query docs (doc_id % 50 = 0) are all themselves deleted — they
    * still query, against an index that no longer ranks them.
    */
  val t18_bm25delete: Q = (s, d) => {
    val table = s"bm25d_${d.hashCode & Int.MaxValue}"
    Retrieval.bm25Build(docs(s, d), "doc_id", "text", table)
    Retrieval.bm25Delete(s, table,
      docs(s, d).filter(col("doc_id") % 5 === 0).select("doc_id"), "doc_id")
    Retrieval.bm25Query(s, table, bm25Queries(s, d), "qid", "qtext", 5)
      .orderBy("qid", "rnk")
  }

  /** t18 after the PHYSICAL fold: bm25FoldTombstones recomputes the
    * dictionary/stats from the retained postings, rewrites the postings
    * without the deleted rows, and clears the set — the same oracle
    * passing proves the folded index ≡ rebuilt-without, with the
    * query-time correction path no longer involved.
    */
  val t19_bm25dfold: Q = (s, d) => {
    val table = s"bm25f_${d.hashCode & Int.MaxValue}"
    Retrieval.bm25Build(docs(s, d), "doc_id", "text", table)
    Retrieval.bm25Delete(s, table,
      docs(s, d).filter(col("doc_id") % 5 === 0).select("doc_id"), "doc_id")
    Retrieval.bm25FoldTombstones(s, table)
    Retrieval.bm25Query(s, table, bm25Queries(s, d), "qid", "qtext", 5)
      .orderBy("qid", "rnk")
  }

  /** BM25 PHRASE gate over the positional index (bm25Build positions =
    * true + bm25PhraseQuery): the same every-50th-doc 3-token queries,
    * but a document scores only if it contains the three tokens
    * CONSECUTIVELY. The oracle restates phrase membership as substring
    * containment over single-space-normalized token text (exactly
    * consecutive-token occurrence under the shared whitespace
    * tokenizer) and recomputes the BM25 scores of the matched docs —
    * so the positional intersection (start alignment across offsets),
    * the positions payload itself, and the restricted scoring all gate
    * together.
    */
  val t20_bm25phrase: Q = (s, d) => {
    val table = s"bm25p_${d.hashCode & Int.MaxValue}"
    Retrieval.bm25Build(docs(s, d), "doc_id", "text", table,
      positions = true)
    Retrieval.bm25PhraseQuery(s, table, bm25Queries(s, d),
      "qid", "qtext", 5).orderBy("qid", "rnk")
  }

  /** BM25 NEAR gate over the positional index (bm25ProximityQuery,
    * window = 8): the same every-50th-doc 3-token queries, but a
    * document matches iff all DISTINCT query tokens occur inside some
    * window of 8 consecutive token slots, in ANY order. The oracle
    * restates window membership occurrence-anchored — a cover window
    * exists iff one anchored at its leftmost occurrence does — over
    * DuckDB's own positional view of the same tokenizer, then
    * recomputes the BM25 scores of the matched docs, so the positions
    * payload, the anchor-slot intersection, and the restricted scoring
    * all gate together against an independently-derived match set.
    */
  val t21_bm25near: Q = (s, d) => {
    val table = s"bm25n_${d.hashCode & Int.MaxValue}"
    Retrieval.bm25Build(docs(s, d), "doc_id", "text", table,
      positions = true)
    Retrieval.bm25ProximityQuery(s, table, bm25Queries(s, d),
      "qid", "qtext", 5, window = 8).orderBy("qid", "rnk")
  }

  /** HYBRID lexical+vector retrieval gate ([[graft.operators.Fusion]]):
    * the every-50th-doc queries carry BOTH their 3-token head text and
    * their own embedding (doc_id ≡ vec_id in the testdata); the BM25
    * leg (top-5, micro-rounded scores) and the exact brute-force cosine
    * leg (top-5, r6-rounded, self-excluded) fuse under RRF with k=60 —
    * each leg contribution floor(1e6/(60+rank)+0.5), integer-summed.
    * The oracle recomputes both legs independently (the t16 scoring
    * CTEs + the sim1 cosine CTEs), applies the same integer RRF, and
    * must match rank-for-rank — so leg ranking, fusion arithmetic, and
    * the deterministic (fused desc, id asc) tiebreak all gate together.
    */
  val t22_hybrid: Q = (s, d) => {
    val table = s"hyb_${d.hashCode & Int.MaxValue}"
    Retrieval.bm25Build(docs(s, d), "doc_id", "text", table)
    val emb = Tables.embeddings(s, d)
    val q = bm25Queries(s, d).join(
      emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")), "qid")
    Fusion.hybridQuery(s, table, q, "qid", "qtext", "qvec", 5,
        kPerLeg = 5, vecCorpus = Some(emb))
      .orderBy("qid", "rnk")
  }

  /** Linear-fusion twin of t22 ([[graft.operators.Fusion.linear]]):
    * same two legs, but fused by per-(leg, qid) min-max-normalized
    * weighted scores — (s − min)/(max − min) over each leg's retrieved
    * top-5 (degenerate max = min ⇒ 1.0), each weighted contribution
    * micro-rounded before the integer sum. Gates the score-aware fusion
    * arithmetic (normalization windows, the degenerate-leg rule, and
    * the FP expression order, which must match DuckDB op-for-op).
    */
  val t23_hybridlinear: Q = (s, d) => {
    val table = s"hybl_${d.hashCode & Int.MaxValue}"
    Retrieval.bm25Build(docs(s, d), "doc_id", "text", table)
    val emb = Tables.embeddings(s, d)
    val q = bm25Queries(s, d).join(
      emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")), "qid")
    Fusion.hybridQuery(s, table, q, "qid", "qtext", "qvec", 5,
        kPerLeg = 5, vecCorpus = Some(emb), mode = "linear")
      .orderBy("qid", "rnk")
  }

  /** Bigram-LM quality scoring gate ([[graft.operators.LangModel]],
    * the CCNet-style corpus filter): the model trains on the EVEN
    * documents only and scores ALL documents, so odd docs exercise the
    * unseen-bigram/unseen-history smoothing paths (left-join + add-one)
    * that a train-on-everything gate would never touch. Scores are
    * integer micro sums (Σ round(ln((c+1)/(ch+V))·1e6)) — the oracle
    * recomputes counts, V, and the identical FP expression; <2-token
    * docs must surface as (0, 0), not disappear.
    */
  val t24_lmscore: Q = (s, d) => {
    val table = s"lm_${d.hashCode & Int.MaxValue}"
    LangModel.train(docs(s, d).filter(col("doc_id") % 2 === 0),
      "doc_id", "text", table)
    LangModel.score(s, table, docs(s, d), "doc_id", "text")
      .orderBy("id")
  }

  /** LM grown ≡ whole-built gate (the dd6/t17 incremental contract for
    * the bigram model): train on the even docs, APPEND the odd docs
    * (count deltas + vocab union, nothing rewritten), then score ALL
    * docs — the oracle trains on everything in one pass, so the gate
    * passes only if append-then-fold is numerically identical to a
    * whole build (compaction happens lazily inside score's plan).
    */
  val t25_lmappend: Q = (s, d) => {
    val table = s"lma_${d.hashCode & Int.MaxValue}"
    LangModel.train(docs(s, d).filter(col("doc_id") % 2 === 0),
      "doc_id", "text", table)
    LangModel.append(s, table,
      docs(s, d).filter(col("doc_id") % 2 =!= 0), "doc_id", "text")
    LangModel.score(s, table, docs(s, d), "doc_id", "text")
      .orderBy("id")
  }

  /** Phrase SNIPPET gate ([[graft.operators.Retrieval.bm25PhraseSnippets]]):
    * t20's ranking plus passage extraction — each top-5 match carries
    * its first aligned start offset and a ±2-token window sliced from
    * the corpus text. The oracle re-derives occurrences positionally
    * (a sliding list_slice equality over DuckDB's token arrays), takes
    * min(start), recomputes the t16 scoring restricted to matches, and
    * slices the same window — so the positional alignment, the
    * first-occurrence choice, the token-window arithmetic (0- vs
    * 1-based, clamped at both ends), and the re-joined snippet text all
    * gate together.
    */
  /** IVFPQ-served twin of t22 ([[graft.operators.Fusion.hybridQuery]]
    * with `pqIndex`): the vector leg serves from a standing IVFPQ
    * index — quantized ADC candidate ranking, then exact cosine
    * re-ranking of the top `refineK` — instead of brute force. At
    * probeFrac = 1.0 with refineK covering the corpus the refine
    * re-ranks EVERY candidate on raw vectors, so the leg's output is
    * the exact cosine top-5 and the t22 oracle applies verbatim: the
    * gate proves the PQ serving path (codebook training, ADC tables,
    * residual scoring, refine join) converges to the exact ranking the
    * convenience path promises, and that the fusion wiring is
    * leg-agnostic.
    */
  val t27_hybridpq: Q = (s, d) => {
    val table = s"hybq_${d.hashCode & Int.MaxValue}"
    val pqt = s"hybqpq_${d.hashCode & Int.MaxValue}"
    Retrieval.bm25Build(docs(s, d), "doc_id", "text", table)
    val emb = Tables.embeddings(s, d)
    ProductQuant.ivfPqBuild(emb, "vec_id", "embedding", pqt, m = 16)
    val q = bm25Queries(s, d).join(
      emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")), "qid")
    Fusion.hybridQuery(s, table, q, "qid", "qtext", "qvec", 5,
        kPerLeg = 5, pqIndex = Some(pqt), probeFrac = 1.0, refineK = 4096)
      .orderBy("qid", "rnk")
  }

  val t26_snippets: Q = (s, d) => {
    val table = s"bm25s_${d.hashCode & Int.MaxValue}"
    Retrieval.bm25Build(docs(s, d), "doc_id", "text", table,
      positions = true)
    Retrieval.bm25PhraseSnippets(s, table, bm25Queries(s, d),
        "qid", "qtext", docs(s, d), "doc_id", "text", 5, context = 2)
      .orderBy("qid", "rnk")
  }

  /** NEAR SNIPPET gate ([[graft.operators.Retrieval
    * .bm25ProximitySnippets]]): t21's ranking plus passage extraction —
    * each top-5 window match carries the LEFTMOST COVER's start (the
    * smallest query-term occurrence whose 8-slot window contains every
    * distinct query term) and a ±2-token-context slice spanning the
    * window. The oracle re-derives covers occurrence-anchored over
    * DuckDB's positional view (the t21 CTEs), takes min(pos) − 1 as the
    * 0-based start, recomputes the restricted scoring, and slices the
    * same [start−2, start+window−1+2] token range — so the cover
    * equivalence, the leftmost choice, the 0-vs-1-based arithmetic, and
    * the re-joined snippet text all gate together.
    */
  val t28_nearsnippets: Q = (s, d) => {
    val table = s"bm25ns_${d.hashCode & Int.MaxValue}"
    Retrieval.bm25Build(docs(s, d), "doc_id", "text", table,
      positions = true)
    Retrieval.bm25ProximitySnippets(s, table, bm25Queries(s, d),
        "qid", "qtext", docs(s, d), "doc_id", "text", 5, window = 8,
        context = 2)
      .orderBy("qid", "rnk")
  }

  /** Bag-of-words SNIPPET gate ([[graft.operators.Retrieval
    * .bm25Snippets]]): t16's ranking plus passage extraction — each
    * top-5 document carries the first occurrence of its BEST-SCORING
    * query term (largest micro-rounded per-term BM25 contribution,
    * ties on term ascending) and a ±2-token window around it. The
    * oracle recomputes the per-term partials (the t16 expression kept
    * per term), replays the argmax and the first-occurrence lookup
    * over its own positional view, and slices the same window — so the
    * per-term scoring, the deterministic argmax, and the clamped slice
    * arithmetic all gate together.
    */
  val t29_bowsnippets: Q = (s, d) => {
    val table = s"bm25bs_${d.hashCode & Int.MaxValue}"
    Retrieval.bm25Build(docs(s, d), "doc_id", "text", table,
      positions = true)
    Retrieval.bm25Snippets(s, table, bm25Queries(s, d), "qid", "qtext",
        docs(s, d), "doc_id", "text", 5, context = 2)
      .orderBy("qid", "rnk")
  }

  /** LM takedown gate ([[graft.operators.LangModel.remove]], the
    * dd11/t19 remove ≡ train-without contract applied to the bigram
    * model): train on ALL documents, remove the odd ones (negated count
    * deltas — bigrams cancel, odd-only words leave the vocabulary, the
    * stats ledger subtracts them from V), then score everything. The
    * oracle trains on the even documents only — the gate passes only
    * if takedown is numerically indistinguishable from never having
    * trained on the removed docs, V included.
    */
  val t30_lmremove: Q = (s, d) => {
    val table = s"lmr_${d.hashCode & Int.MaxValue}"
    LangModel.train(docs(s, d), "doc_id", "text", table)
    LangModel.remove(s, table, docs(s, d).filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text")
    LangModel.score(s, table, docs(s, d), "doc_id", "text")
      .orderBy("id")
  }

  /** Hybrid-snippet gate ([[graft.operators.Fusion.hybridSnippets]]):
    * t22's RRF fusion plus passage extraction — each fused top-5 hit
    * carries the first occurrence of its best-scoring lexical query
    * term and a ±2-token window (the t29 span machinery applied AFTER
    * fusion). Vector-only hits keep their fused rank with null
    * start/snippet; the oracle replays the t22 fusion, the t29
    * argmax/first-occurrence/slice, and the same LEFT-join null
    * semantics, so the fusion wiring, the span reuse, and the
    * no-lexical-passage case all gate together.
    */
  val t31_hybridsnippets: Q = (s, d) => {
    val table = s"hybsn_${d.hashCode & Int.MaxValue}"
    Retrieval.bm25Build(docs(s, d), "doc_id", "text", table,
      positions = true)
    val emb = Tables.embeddings(s, d)
    val q = bm25Queries(s, d).join(
      emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")), "qid")
    Fusion.hybridSnippets(s, table, q, "qid", "qtext", "qvec",
        docs(s, d), "doc_id", "text", 5, context = 2,
        kPerLeg = 5, vecCorpus = Some(emb))
      .orderBy("qid", "rnk")
  }

  /** Sharded-serving gate ([[graft.operators.Retrieval.bm25ShardedQuery]],
    * the layout for indexes too big for one box/table): the corpus
    * splits doc-disjoint by id parity into TWO independent indexes;
    * serving folds (N, avgdl, df) across the shard dictionaries and
    * scores each shard against the global constants, merging bounded
    * top-k lists. The oracle is t16's whole-corpus BM25 verbatim — the
    * gate passes only if sharded serving is numerically
    * indistinguishable from one index.
    */
  val t32_shardedbm25: Q = (s, d) => {
    val t0 = s"shb0_${d.hashCode & Int.MaxValue}"
    val t1 = s"shb1_${d.hashCode & Int.MaxValue}"
    Retrieval.bm25Build(docs(s, d).filter(col("doc_id") % 2 === 0),
      "doc_id", "text", t0)
    Retrieval.bm25Build(docs(s, d).filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", t1)
    Retrieval.bm25ShardedQuery(s, Seq(t0, t1), bm25Queries(s, d),
        "qid", "qtext", 5)
      .orderBy("qid", "rnk")
  }

  /** Sharded NEAR gate ([[graft.operators.Retrieval
    * .bm25ShardedProximityQuery]]): t21's window-cover semantics over
    * two doc-disjoint positional shards — per-shard covers (the match
    * is doc-local), global-stats scoring, top-k merge. Oracle = t21's
    * whole-corpus recomputation verbatim.
    */
  val t33_shardednear: Q = (s, d) => {
    val t0 = s"shn0_${d.hashCode & Int.MaxValue}"
    val t1 = s"shn1_${d.hashCode & Int.MaxValue}"
    Retrieval.bm25Build(docs(s, d).filter(col("doc_id") % 2 === 0),
      "doc_id", "text", t0, positions = true)
    Retrieval.bm25Build(docs(s, d).filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", t1, positions = true)
    Retrieval.bm25ShardedProximityQuery(s, Seq(t0, t1), bm25Queries(s, d),
        "qid", "qtext", 5, window = 8)
      .orderBy("qid", "rnk")
  }

  /** Sharded PHRASE gate ([[graft.operators.Retrieval
    * .bm25ShardedPhraseQuery]]): t20's consecutive-in-order matching
    * over two doc-disjoint positional shards — per-shard alignment
    * (phrase occurrences are doc-local), global-stats scoring, top-k
    * merge. Oracle = t20's whole-corpus recomputation verbatim.
    */
  val t34_shardedphrase: Q = (s, d) => {
    val t0 = s"shp0_${d.hashCode & Int.MaxValue}"
    val t1 = s"shp1_${d.hashCode & Int.MaxValue}"
    Retrieval.bm25Build(docs(s, d).filter(col("doc_id") % 2 === 0),
      "doc_id", "text", t0, positions = true)
    Retrieval.bm25Build(docs(s, d).filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", t1, positions = true)
    Retrieval.bm25ShardedPhraseQuery(s, Seq(t0, t1), bm25Queries(s, d),
        "qid", "qtext", 5)
      .orderBy("qid", "rnk")
  }

  /** Sharded LM gate ([[graft.operators.LangModel.scoreSharded]]):
    * TWO models train shard-parallel on a doc-disjoint parity split —
    * zero coordination between the trains — and sharded scoring (count
    * deltas additive across shards, V folded across the shard
    * vocabularies) must be numerically indistinguishable from ONE model
    * trained on everything: the oracle is t25's whole-trained
    * recomputation verbatim.
    */
  val t35_shardedlm: Q = (s, d) => {
    val t0 = s"shl0_${d.hashCode & Int.MaxValue}"
    val t1 = s"shl1_${d.hashCode & Int.MaxValue}"
    LangModel.train(docs(s, d).filter(col("doc_id") % 2 === 0),
      "doc_id", "text", t0)
    LangModel.train(docs(s, d).filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", t1)
    // serve through the generation-memoized stats path (round 16): the
    // first call folds the shard vocabularies and caches global V per
    // model generation; the SECOND call — the one the oracle gates —
    // reads V from the cache with no vocab scan, and must be
    // numerically indistinguishable from the whole-trained model
    val st = s"shl_vstats_${d.hashCode & Int.MaxValue}"
    LangModel.scoreSharded(s, Seq(t0, t1), docs(s, d).limit(1),
      "doc_id", "text", statsTable = Some(st)).count()
    LangModel.scoreSharded(s, Seq(t0, t1), docs(s, d), "doc_id", "text",
        statsTable = Some(st))
      .orderBy("id")
  }

  /** Sharded HYBRID gate ([[graft.operators.Fusion.hybridShardedQuery]]):
    * t22's RRF fusion with BOTH legs sharded — BM25 over two
    * doc-disjoint indexes (global-stats fold), the vector leg a
    * brute-force merge over two vec-disjoint corpus shards. Sharded
    * BM25 is exact (t32) and sharded brute force is exact (sim12), so
    * the fused ranking must equal the whole-corpus t22 oracle verbatim
    * — shard count must never touch scores.
    */
  val t36_shardedhybrid: Q = (s, d) => {
    val t0 = s"shh0_${d.hashCode & Int.MaxValue}"
    val t1 = s"shh1_${d.hashCode & Int.MaxValue}"
    Retrieval.bm25Build(docs(s, d).filter(col("doc_id") % 2 === 0),
      "doc_id", "text", t0)
    Retrieval.bm25Build(docs(s, d).filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", t1)
    val emb = Tables.embeddings(s, d)
    val q = bm25Queries(s, d).join(
      emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")), "qid")
    Fusion.hybridShardedQuery(s, Seq(t0, t1), q, "qid", "qtext", "qvec", 5,
        kPerLeg = 5, vecShards = Some(Seq(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 =!= 0))))
      .orderBy("qid", "rnk")
  }

  /** Sharded hybrid-SNIPPET gate ([[graft.operators.Fusion
    * .hybridShardedSnippets]]): t31's fused passages from a fully
    * sharded deployment — sharded fusion (t36), then passage
    * extraction with the argmax term chosen against the GLOBAL stats
    * fold and positional lookups unioned per shard. Oracle = t31's
    * whole-corpus recomputation verbatim; vector-only hits must keep
    * their fused rank with null start/snippet through the sharded
    * path too.
    */
  val t37_shardedhybridsnip: Q = (s, d) => {
    val t0 = s"shhs0_${d.hashCode & Int.MaxValue}"
    val t1 = s"shhs1_${d.hashCode & Int.MaxValue}"
    Retrieval.bm25Build(docs(s, d).filter(col("doc_id") % 2 === 0),
      "doc_id", "text", t0, positions = true)
    Retrieval.bm25Build(docs(s, d).filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", t1, positions = true)
    val emb = Tables.embeddings(s, d)
    val q = bm25Queries(s, d).join(
      emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")), "qid")
    Fusion.hybridShardedSnippets(s, Seq(t0, t1), q, "qid", "qtext", "qvec",
        docs(s, d), "doc_id", "text", 5, context = 2,
        kPerLeg = 5, vecShards = Some(Seq(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 =!= 0))))
      .orderBy("qid", "rnk")
  }

  /** Sharded-hybrid gate over the SHARDED-IVF vector leg
    * ([[graft.operators.Fusion.hybridShardedQuery]] with `vecIndexes`
    * — the leg t36 leaves uncovered): two doc-disjoint IVF shard
    * indexes serve the vector candidates at probeFrac = 1.0, where
    * each shard's probe is its exact local top-k and the bounded merge
    * is exactly the whole-corpus brute force (the sim12 argument), so
    * the fused ranking must equal the t22 oracle verbatim — the
    * standing-index sharded deployment must be indistinguishable from
    * the corpus-at-hand one.
    */
  val t38_shardedhybridivf: Q = (s, d) => {
    val t0 = s"shhi0_${d.hashCode & Int.MaxValue}"
    val t1 = s"shhi1_${d.hashCode & Int.MaxValue}"
    Retrieval.bm25Build(docs(s, d).filter(col("doc_id") % 2 === 0),
      "doc_id", "text", t0)
    Retrieval.bm25Build(docs(s, d).filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", t1)
    val emb = Tables.embeddings(s, d)
    val v0 = s"shhiv0_${d.hashCode & Int.MaxValue}"
    val v1 = s"shhiv1_${d.hashCode & Int.MaxValue}"
    Similarity.ivfBuild(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", v0)
    Similarity.ivfBuild(emb.filter(col("vec_id") % 2 =!= 0),
      "vec_id", "embedding", v1)
    val q = bm25Queries(s, d).join(
      emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")), "qid")
    Fusion.hybridShardedQuery(s, Seq(t0, t1), q, "qid", "qtext", "qvec", 5,
        kPerLeg = 5, vecIndexes = Some(Seq(v0, v1)), probeFrac = 1.0)
      .orderBy("qid", "rnk")
  }

  /** Sharded LINEAR-fusion gate ([[graft.operators.Fusion
    * .hybridShardedQuery]] with `mode = "linear"` — the mode t36
    * leaves uncovered): both legs sharded and exact, fused by
    * per-(leg, qid) min-max-normalized weighted scores. Since the
    * sharded legs are exact and the normalization windows see the
    * identical retrieved top-5 lists, the fused ranking must equal the
    * whole-corpus t23 oracle verbatim — shard count must never touch
    * the normalization extrema.
    */
  val t39_shardedhybridlinear: Q = (s, d) => {
    val t0 = s"shhl0_${d.hashCode & Int.MaxValue}"
    val t1 = s"shhl1_${d.hashCode & Int.MaxValue}"
    Retrieval.bm25Build(docs(s, d).filter(col("doc_id") % 2 === 0),
      "doc_id", "text", t0)
    Retrieval.bm25Build(docs(s, d).filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", t1)
    val emb = Tables.embeddings(s, d)
    val q = bm25Queries(s, d).join(
      emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")), "qid")
    Fusion.hybridShardedQuery(s, Seq(t0, t1), q, "qid", "qtext", "qvec", 5,
        kPerLeg = 5, vecShards = Some(Seq(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 =!= 0))),
        mode = "linear")
      .orderBy("qid", "rnk")
  }

  /** Reshard gate ([[graft.operators.Retrieval.splitShard]]): a
    * 2-shard BM25 family grows to 3 by splitting shard 0 into
    * hierarchical children (index rows rehashed by doc, derived tables
    * recomputed per child, parent retired), and sharded serving over
    * the post-split family must STILL equal the whole-corpus
    * recomputation — the t32 oracle verbatim: resharding must never
    * touch scores.
    */
  val t40_splitbm25: Q = (s, d) => {
    import graft.operators.{BucketedJoin, Sharding}
    val t0 = s"splg0_${d.hashCode & Int.MaxValue}"
    val t1 = s"splg1_${d.hashCode & Int.MaxValue}"
    val (c0, c1) = (s"${t0}a", s"${t0}b")
    // defensive: a crashed prior run's resume marker would make the
    // split skip rebuilding the children from THIS run's fresh parent
    BucketedJoin.dropWithLocation(s, Sharding.splitMarker(t0))
    Retrieval.bm25Build(docs(s, d)
        .filter(Sharding.shardOf(col("doc_id"), 2) === 0),
      "doc_id", "text", t0)
    Retrieval.bm25Build(docs(s, d)
        .filter(Sharding.shardOf(col("doc_id"), 2) === 1),
      "doc_id", "text", t1)
    Retrieval.splitShard(s, t0, c0, c1, shardIndex = 0, nShards = 2)
    Retrieval.bm25ShardedQuery(s, Seq(c0, c1, t1), bm25Queries(s, d),
        "qid", "qtext", 5)
      .orderBy("qid", "rnk")
  }

  /** Reshard gate for the LM family ([[graft.operators.LangModel
    * .splitShard]]): shard 0 of a 2-model family re-trains into two
    * doc-hash children from its own corpus slice (counts carry no doc
    * attribution — the corpus is the system of record), the parent
    * retires, and sharded scoring over the 3-model family must equal
    * the whole-trained recomputation — the t35 oracle verbatim.
    */
  val t41_splitlm: Q = (s, d) => {
    import graft.operators.{BucketedJoin, Sharding}
    val t0 = s"spll0_${d.hashCode & Int.MaxValue}"
    val t1 = s"spll1_${d.hashCode & Int.MaxValue}"
    val (c0, c1) = (s"${t0}a", s"${t0}b")
    BucketedJoin.dropWithLocation(s, Sharding.splitMarker(t0))
    val slice0 = docs(s, d).filter(Sharding.shardOf(col("doc_id"), 2) === 0)
    LangModel.train(slice0, "doc_id", "text", t0)
    LangModel.train(docs(s, d)
        .filter(Sharding.shardOf(col("doc_id"), 2) === 1),
      "doc_id", "text", t1)
    LangModel.splitShard(s, t0, c0, c1, slice0, "doc_id", "text",
      shardIndex = 0, nShards = 2)
    LangModel.scoreSharded(s, Seq(c0, c1, t1), docs(s, d), "doc_id", "text")
      .orderBy("id")
  }

  /** Merge gate ([[graft.operators.Retrieval.mergeShards]] — the
    * shrink path): two doc-disjoint BM25 shards fold back into ONE
    * table (row unions rebucketed, derived tables recomputed, parents
    * retired) and single-table serving over the merge must equal the
    * whole-corpus recomputation — the t32/t40 oracle verbatim:
    * resizing a family in EITHER direction never touches scores.
    */
  val t42_mergebm25: Q = (s, d) => {
    import graft.operators.{BucketedJoin, Sharding}
    val t0 = s"mrgg0_${d.hashCode & Int.MaxValue}"
    val t1 = s"mrgg1_${d.hashCode & Int.MaxValue}"
    val m = s"mrggm_${d.hashCode & Int.MaxValue}"
    BucketedJoin.dropWithLocation(s, Sharding.mergeMarker(m))
    Retrieval.bm25Build(docs(s, d)
        .filter(Sharding.shardOf(col("doc_id"), 2) === 0),
      "doc_id", "text", t0)
    Retrieval.bm25Build(docs(s, d)
        .filter(Sharding.shardOf(col("doc_id"), 2) === 1),
      "doc_id", "text", t1)
    Retrieval.mergeShards(s, t0, t1, m)
    Retrieval.bm25Query(s, m, bm25Queries(s, d), "qid", "qtext", 5)
      .orderBy("qid", "rnk")
  }

  /** LM merge gate ([[graft.operators.LangModel.mergeShards]]): two
    * shard-trained models fold into one by DELTA-ROW UNION (counts
    * additive; stats recomputed — per-shard V deltas are not additive
    * across overlapping vocabularies) and single-model scoring must
    * equal the whole-trained recomputation — the t35/t41 oracle
    * verbatim.
    */
  val t43_mergelm: Q = (s, d) => {
    import graft.operators.{BucketedJoin, Sharding}
    val t0 = s"mrgl0_${d.hashCode & Int.MaxValue}"
    val t1 = s"mrgl1_${d.hashCode & Int.MaxValue}"
    val m = s"mrglm_${d.hashCode & Int.MaxValue}"
    BucketedJoin.dropWithLocation(s, Sharding.mergeMarker(m))
    LangModel.train(docs(s, d)
        .filter(Sharding.shardOf(col("doc_id"), 2) === 0),
      "doc_id", "text", t0)
    LangModel.train(docs(s, d)
        .filter(Sharding.shardOf(col("doc_id"), 2) === 1),
      "doc_id", "text", t1)
    LangModel.mergeShards(s, t0, t1, m)
    LangModel.score(s, m, docs(s, d), "doc_id", "text")
      .orderBy("id")
  }

  /** MaxScore dynamic-pruning gate
    * ([[graft.operators.Retrieval.bm25QueryMaxScore]]): the t16 query
    * batch served through the two-pass pruned plan — essential-term
    * scoring, per-query threshold verification, head postings doc-gated
    * to the candidates — must answer the FULL-BM25 oracle verbatim.
    * Queries that fail verification fall back to the exact plan inside
    * the same job, so every branch (safe, unsafe, all-essential) is
    * under the same hash gate.
    */
  val t44_maxscore: Q = (s, d) => {
    val table = s"bm25ms_${d.hashCode & Int.MaxValue}"
    // `zzhead` appended to every doc (df = N) and to every query: the
    // one term whose upper bound is provably negligible at ANY corpus
    // size, so the threshold verification PASSES and the two-pass
    // pruned plan — head postings doc-gated to essential candidates —
    // is what answers the full-BM25 oracle (which replays the same
    // corpus/query transform). Toy-scale dials neutralize the cost
    // gate; queries with too few candidates still exercise the
    // per-query exact fallback under the same hash.
    Retrieval.bm25Build(maxScoreDocs(s, d), "doc_id", "text", table)
    Retrieval.bm25QueryMaxScore(s, table, maxScoreQueries(s, d), "qid",
        "qtext", 5, essentialDfFrac = 0.9, gateMinHeadMass = 1L,
        gateCandFrac = 1000000.0)
      .orderBy("qid", "rnk")
  }

  /** The t44/t45 corpus: every document with the guaranteed head term
    * appended (see t44's note). */
  private def maxScoreDocs(s: SparkSession, d: String) =
    docs(s, d).select(col("doc_id"),
      concat(col("text"), lit(" zzhead")).as("text"))

  /** The t44/t45 queries: t16's first-3-tokens protocol (on the
    * ORIGINAL text) + the guaranteed head term. */
  private def maxScoreQueries(s: SparkSession, d: String) =
    bm25Queries(s, d).select(col("qid"),
      concat(col("qtext"), lit(" zzhead")).as("qtext"))

  private val maxScoreQtExtra =
    " UNION ALL SELECT doc_id AS qid, 'zzhead' AS term" +
      " FROM documents WHERE doc_id % 50 = 0"

  /** Sharded MaxScore gate
    * ([[graft.operators.Retrieval.bm25ShardedQueryMaxScore]]): the t32
    * parity-shard layout served through the two-pass pruned plan —
    * global stats fold, per-shard essential scoring, candidate gating
    * across shard legs — against the same whole-corpus full-BM25
    * oracle. Passing requires the pruning to be invisible AND the
    * shard split to be invisible, simultaneously.
    */
  val t45_shardedmaxscore: Q = (s, d) => {
    val t0 = s"shms0_${d.hashCode & Int.MaxValue}"
    val t1 = s"shms1_${d.hashCode & Int.MaxValue}"
    val c = maxScoreDocs(s, d)
    Retrieval.bm25Build(c.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", t0)
    Retrieval.bm25Build(c.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", t1)
    Retrieval.bm25ShardedQueryMaxScore(s, Seq(t0, t1),
        maxScoreQueries(s, d), "qid", "qtext", 5,
        essentialDfFrac = 0.9, gateMinHeadMass = 1L,
        gateCandFrac = 1000000.0)
      .orderBy("qid", "rnk")
  }

  /** The t44 forced-engagement dials as a [[graft.operators.Retrieval
    * .MaxScoreDials]] bundle, shared by the hybrid MaxScore gates. */
  private val maxScoreForcedDials = Retrieval.MaxScoreDials(
    essentialDfFrac = 0.9, gateMinHeadMass = 1L, gateCandFrac = 1000000.0)

  /** Hybrid fusion with the MAXSCORE lexical leg ([[graft.operators
    * .Fusion.hybridQuery]] `lexMaxScore` — the round-17 pruned scoring
    * leg routed through the fusion layer): t22's RRF fusion on the
    * t44 zzhead corpus, the lexical top-5 answered by the two-pass
    * pruned plan (the df = N head term's postings doc-gated to the
    * essential candidates) and the vector leg exact brute force. The
    * oracle replays the t22 fusion over the transformed corpus with
    * FULL BM25 — passing requires the pruning to be invisible through
    * the fusion arithmetic, not just through the lexical ranking.
    */
  val t46_hybridmaxscore: Q = (s, d) => {
    val table = s"hybms_${d.hashCode & Int.MaxValue}"
    Retrieval.bm25Build(maxScoreDocs(s, d), "doc_id", "text", table)
    val emb = Tables.embeddings(s, d)
    val q = maxScoreQueries(s, d).join(
      emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")), "qid")
    Fusion.hybridQuery(s, table, q, "qid", "qtext", "qvec", 5,
        kPerLeg = 5, vecCorpus = Some(emb),
        lexMaxScore = Some(maxScoreForcedDials))
      .orderBy("qid", "rnk")
  }

  /** Sharded-hybrid gate with the MAXSCORE lexical leg
    * ([[graft.operators.Fusion.hybridShardedQuery]] `lexMaxScore`):
    * t36's fully sharded fusion on the zzhead corpus, the lexical leg
    * served by [[graft.operators.Retrieval.bm25ShardedQueryMaxScore]]
    * (global stats fold + per-shard candidate gating) and the vector
    * leg exact sharded brute force. Same whole-corpus oracle as t46 —
    * the pruning AND the shard split must both be invisible through
    * fusion, simultaneously.
    */
  val t47_shardedhybridmaxscore: Q = (s, d) => {
    val t0 = s"shhm0_${d.hashCode & Int.MaxValue}"
    val t1 = s"shhm1_${d.hashCode & Int.MaxValue}"
    val c = maxScoreDocs(s, d)
    Retrieval.bm25Build(c.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", t0)
    Retrieval.bm25Build(c.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", t1)
    val emb = Tables.embeddings(s, d)
    val q = maxScoreQueries(s, d).join(
      emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")), "qid")
    Fusion.hybridShardedQuery(s, Seq(t0, t1), q, "qid", "qtext", "qvec", 5,
        kPerLeg = 5, vecShards = Some(Seq(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 =!= 0))),
        lexMaxScore = Some(maxScoreForcedDials))
      .orderBy("qid", "rnk")
  }

  /** The round-18 COMPOSED serving path: plan-parallel grouped legs AND
    * MaxScore pruning on the same sharded lexical leg
    * ([[graft.operators.Fusion.hybridShardedQuery]] with BOTH
    * `planPar > 0` and `lexMaxScore` set →
    * [[graft.operators.Retrieval.bm25ShardedQueryMaxScoreGrouped]]) —
    * t47's protocol with the shards split across plan groups
    * (parallelism 2 over 2 shards = one shard per driver-thread
    * group, the degenerate-but-real grouping this scale admits).
    * Same whole-corpus RRF oracle as t46/t47: the grouping, the
    * pruning, and the shard split must ALL be invisible through the
    * fusion arithmetic at once.
    */
  val t48_groupedhybridmaxscore: Q = (s, d) => {
    val t0 = s"ghm0_${d.hashCode & Int.MaxValue}"
    val t1 = s"ghm1_${d.hashCode & Int.MaxValue}"
    val c = maxScoreDocs(s, d)
    Retrieval.bm25Build(c.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", t0)
    Retrieval.bm25Build(c.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", t1)
    val emb = Tables.embeddings(s, d)
    val q = maxScoreQueries(s, d).join(
      emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")), "qid")
    Fusion.hybridShardedQuery(s, Seq(t0, t1), q, "qid", "qtext", "qvec", 5,
        kPerLeg = 5, vecShards = Some(Seq(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 =!= 0))),
        planPar = 2, lexMaxScore = Some(maxScoreForcedDials))
      .orderBy("qid", "rnk")
  }

  /** BLOCK-MAX layout gate (round 19,
    * [[graft.operators.Retrieval.bm25Build]] `blockMax = true`): t44's
    * forced-engagement protocol served from the blk-sorted index —
    * half the corpus BUILT, half APPENDED (so the delta-maintained
    * `_blkmax` bounds and the appended files' sort are both under the
    * hash), the two-pass pruned plan answering with the candidate set
    * PUSHED into the head postings scan (per-value doc/blk IN on the
    * sorted files) and block-UB refinement applied. Same whole-corpus
    * full-BM25 oracle as t44: the layout, the scan push, and the
    * refinement must all be invisible in the rows.
    */
  val t49_blockmax: Q = (s, d) => {
    val table = s"bm25bm_${d.hashCode & Int.MaxValue}"
    val c = maxScoreDocs(s, d)
    Retrieval.bm25Build(c.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", table, blockMax = true, blockWidth = 64L)
    Retrieval.bm25Append(s, table,
      c.filter(col("doc_id") % 2 =!= 0), "doc_id", "text")
    Retrieval.bm25QueryMaxScore(s, table, maxScoreQueries(s, d), "qid",
        "qtext", 5, essentialDfFrac = 0.9, gateMinHeadMass = 1L,
        gateCandFrac = 1000000.0)
      .orderBy("qid", "rnk")
  }

  /** Every 50th document's first three (lowercased) tokens as the query
    * text — rejoined with single spaces so bm25Query's tokenizer
    * recovers the identical terms.
    */
  private def bm25Queries(s: SparkSession, d: String) =
    docs(s, d).filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(TextOps.tokens(lower(col("text"))), 1, 3))
          .as("qtext"))

  /** Deterministic corpus mixing (domain reweighting): per-source keep
    * probabilities applied through the stable md5-threshold filter —
    * src0 kept at 25%, src1 dropped, src2 fully kept, everything else
    * at the 75% default. Stable under resharding; the oracle replays the
    * same thresholds.
    */
  val t10_mix: Q = (s, d) =>
    docs(s, d)
      .filter(Shards.weightedSampleFilter(col("doc_id"), col("source"),
        Map("src0" -> 0.25, "src1" -> 0.0, "src2" -> 1.0),
        defaultWeight = 0.75))
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")

  /** Eval-set decontamination gate (Decontaminate.overlapCounts): the
    * "benchmark" is every doc_id % 50 == 0 document's own text, so each
    * benchmark doc with ≥8 tokens must flag itself with n_hits = its
    * distinct 8-gram count, and any other doc sharing an 8-gram is
    * flagged too — the oracle recomputes the same inverted-index
    * semi-join in SQL.
    */
  val t11_decontam: Q = (s, d) => {
    val all = docs(s, d)
    val bench = all.filter(col("doc_id") % 50 === 0)
    Decontaminate.overlapCounts(all, "text", "doc_id", bench, "text", k = 8)
      .orderBy("doc_id")
  }

  /** Count-min-sketch heavy-hitter gate (the "novel sketch" surface —
    * same recall-gate pattern as a5/sim2): a word is emitted iff the
    * CMS estimate (fixed seed → deterministic) sits within the
    * eps·N guarantee of the exact count; the oracle asserts EVERY word
    * does. CMS never underestimates, so the filter also proves the
    * probe path returns ≥ exact.
    */
  val t12_cms: Q = (s, d) => {
    GraftFunctions.ensureRegistered(s)
    val w = words(s, d)
    val eps = 0.001
    val sketch = w.stat.countMinSketch(col("word"), eps, 0.99, 42)
    val totalN = sketch.totalCount()
    val slack = math.ceil(eps * totalN).toLong
    // Probe through the codegen'd cms_probe expression (sketch rides the
    // plan as a literal; one deserialization per executor, no UDF seam).
    w.groupBy("word").agg(count(lit(1)).as("exact"))
      .withColumn("est", GraftFunctions.cmsProbe(col("word"), sketch))
      .filter(col("est") >= col("exact") && col("est") - col("exact") <= slack)
      .select("word").orderBy("word")
  }

  /** Deterministic stratified bottom-k sample (5 smallest md5 hashes
    * per source) — exact-size per-stratum sampling, reproducible across
    * engines/reshardings.
    */
  val t13_stratified: Q = (s, d) =>
    Shards.stratifiedBottomK(
        docs(s, d).select(col("doc_id"), col("source")), "source", "doc_id", 5)
      .select("doc_id", "source", "rn").orderBy("source", "rn")

  /** Approximate-quantile gate (GK sketch — percentile_approx, the
    * third sketch beside HLL/a5 and CMS/t12): a decile is emitted iff
    * the sketch value's EXACT rank sits within the accuracy guarantee
    * (±n/accuracy) of the target rank. Oracle asserts all 9 deciles
    * pass — rank-checking sidesteps engine-specific quantile
    * interpolation entirely.
    */
  val t14_quantiles: Q = (s, d) => {
    val base = docs(s, d).select(col("n_chars"))
    val acc = 100
    val dec = base.agg(percentile_approx(col("n_chars"),
        array((1 to 9).map(i => lit(i / 10.0)): _*), lit(acc)).as("vals"))
      .select(posexplode(col("vals")))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "v")
    val stats = base.crossJoin(broadcast(dec))
      .groupBy("i", "v")
      .agg(count(lit(1)).as("n"),
        count(when(col("n_chars") <= col("v"), 1)).as("rank"))
    stats
      .filter(abs(col("rank") - (col("i") + 1) / lit(10.0) * col("n"))
        <= col("n") / acc + 1)
      .select((col("i") + 1).cast("int").as("decile"))
      .orderBy("decile")
  }

  /** Bloom-filter membership gate (no-false-negative direction, which
    * is the filter's contract): a bloom built over lineitem orderkeys
    * must admit EVERY true orderkey probed from the orders side — the
    * oracle is the exact key set, so one false negative drops a row.
    * (False-positive rate is seed-deterministic but not
    * SQL-expressible; it stays un-gated by design.)
    */
  val t15_bloom: Q = (s, d) => {
    val keys = li(s, d).select(col("l_orderkey"))
    val bloom = keys.stat.bloomFilter("l_orderkey", 2000L, 0.01)
    GraftFunctions.ensureRegistered(s)
    Tables.orders(s, d).select(col("o_orderkey")).distinct()
      .join(keys.distinct(), col("o_orderkey") === col("l_orderkey"), "left_semi")
      .filter(GraftFunctions.bloomProbe(col("o_orderkey"), bloom))
      .orderBy("o_orderkey")
  }

  /** Composed rule filter (Gopher-style heuristics): keep docs with
    * 10..2000 tokens, mean token length in [2, 12], ≥1 stopword, and
    * < 30% duplicate 3-grams. Every ingredient is individually gated
    * (t1/t2/t8); this gates the conjunction.
    */
  val p2_rulefilter: Q = (s, d) => {
    GraftFunctions.ensureRegistered(s)
    val t = col("text")
    val toks = TextOps.tokens(t)
    val nTok = size(toks).cast("long")
    val n3 = greatest(size(toks) - 2, lit(0))
    val nd = size(GraftFunctions.wordShingles(toks, 3))
    val meanLen = aggregate(toks, lit(0L), (a, w) => a + length(w))
      .cast("double") / nTok
    docs(s, d)
      .filter(nTok >= 10 && nTok <= 2000)
      .filter(meanLen >= 2.0 && meanLen <= 12.0)
      .filter(TextOps.stopwordCount(t) >= 1)
      .filter(n3 === 0 || (n3 - nd).cast("double") / n3 < 0.3)
      .select(col("doc_id"), nTok.as("n_tokens"))
      .orderBy("doc_id")
  }

  /** Cluster-canonical cleaning (the dd7 components consumed by a
    * pipeline): drop every non-canonical member of each near-dup
    * CLUSTER (keep the component's min id — the transitive-closure
    * policy p1's pairwise drop approximates), then the p1 quality
    * floor. Scale shape: the pair graph and propagation shuffle only
    * (long, long) rows; the corpus joins the loser set once,
    * broadcast-sized in practice (losers ≤ dup count ≪ corpus).
    */
  val p3_componentclean: Q = (s, d) => {
    val base = docs(s, d)
    val pairs = Dedup.ngramJaccardPairs(base, "text", "doc_id",
      k = 3, threshold = 0.8, maxShingleFreq = 5)
    val losers = Dedup.connectedComponents(pairs, "ida", "idb")
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    base.join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))
      .filter(col("n_tokens") >= 5)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- SIM: similarity search

  val sim1_knn: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") % 100 === 0)
    Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select(col("qid"), col("nid"), col("cos"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** LSH ANN correctness gate: a query id appears in the output iff the
    * LSH path achieves recall@5 ≥ 3/5 against the exact brute-force
    * top-5 for that query. The oracle (which cannot run LSH) asserts
    * EVERY query id appears — i.e. the approximate index never degrades
    * below the recall floor. Hyperplanes are seed-deterministic, so this
    * is a fixed, reproducible gate, and the plan contains no driver
    * action (dim is discovered inside the signature kernel).
    */
  val sim2_lsh: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") % 100 === 0)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("qid", "nid")
    // Param note: the synthetic embeddings are weakly clustered (true
    // top-5 neighbors sit at cos ≈ 0.30-0.45, dim 64), so the index uses
    // short signatures and many tables (P(find | cos .37) = 1-(1-p^4)^24
    // ≈ .98 with p = 1-acos(.37)/π). Real embedding corpora with tight
    // clusters would run longer signatures and fewer tables.
    val approx = Similarity.lshTopK(emb, q, "vec_id", "embedding", 5,
      nBits = 4, nTables = 24).select("qid", "nid")
    exact.join(approx, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= 3)
      .select("qid").orderBy("qid")
  }

  /** IVF ANN recall gate — same contract as sim2 (qid emitted iff
    * recall@5 ≥ 3/5 vs brute force, oracle = every qid). Parameters are
    * DERIVED from the corpus size (nlist=⌈√N⌉, nprobe=⌈nlist/2⌉,
    * double assignment — Similarity.ivfTopKAuto), not tuned to one scale
    * factor: measured min recall@5 is 5/5 at both sf0.01 (N=500,
    * nlist=23) and sf0.1 (N=2000, nlist=45); SimilaritySpec pins the
    * second scale so parameter rot at a larger N fails a test, not just
    * a bigger cluster.
    */
  val sim3_ivf: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") % 100 === 0)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("qid", "nid")
    val approx = Similarity.ivfTopKAuto(emb, q, "vec_id", "embedding", 5)
      .select("qid", "nid")
    exact.join(approx, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= 3)
      .select("qid").orderBy("qid")
  }

  /** Persisted-IVF-index gate (index-once / query-many): ivfBuild
    * writes the inverted lists as a cid-bucketed table + centroid side
    * table; ivfQuery probes them with a co-located join. Same recall
    * contract and oracle as sim3 — the index holds the identical
    * size-derived parameters, so recall is the measured 5/5 — but the
    * answer now comes off the PERSISTED index, certifying the
    * build→store→query chain.
    */
  val sim5_ivfindex: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") % 100 === 0)
    val table = s"ivf_idx_${d.hashCode & Int.MaxValue}"
    Similarity.ivfBuild(emb, "vec_id", "embedding", table)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("qid", "nid")
    val approx = Similarity.ivfQuery(s, table, q, "vec_id", "embedding", 5)
      .select("qid", "nid")
    exact.join(approx, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= 3)
      .select("qid").orderBy("qid")
  }

  /** Two-level (coarse-quantizer) IVF gate: the sim5 chain with
    * `twoLevel = true` — the centroids are themselves bucketed under
    * ≈√nlist supers and assignment scores only the top supers' members
    * (the 10¹²-extreme build path). Same recall contract and oracle as
    * sim3/sim5: every query keeps ≥3/5 of the exact top-5, certifying
    * that the approximate assignment step doesn't cost gate-level
    * recall at the default operating point.
    */
  val sim6_ivf2level: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") % 100 === 0)
    val table = s"ivf2_idx_${d.hashCode & Int.MaxValue}"
    Similarity.ivfBuild(emb, "vec_id", "embedding", table, twoLevel = true)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("qid", "nid")
    val approx = Similarity.ivfQuery(s, table, q, "vec_id", "embedding", 5)
      .select("qid", "nid")
    exact.join(approx, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= 3)
      .select("qid").orderBy("qid")
  }

  /** IVF APPEND gate (the sim5 chain with a GROWN index): the index is
    * built on the even half of the corpus only — centroids train on
    * that half and are then FROZEN — and the odd half arrives via
    * [[Similarity.ivfAppend]]. The recall contract is unchanged (every
    * query keeps ≥3/5 of the exact top-5 over the FULL corpus), so the
    * gate fails unless appended vectors are assigned and landed in the
    * cid-bucketed lists correctly. Oracle identical to sim5:
    * append-built ≡ whole-built at gate recall.
    */
  val sim7_ivfappend: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") % 100 === 0)
    val table = s"sim7_idx_${d.hashCode & Int.MaxValue}"
    Similarity.ivfBuild(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", table)
    Similarity.ivfAppend(s, table, emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("qid", "nid")
    val approx = Similarity.ivfQuery(s, table, q, "vec_id", "embedding", 5)
      .select("qid", "nid")
    exact.join(approx, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= 3)
      .select("qid").orderBy("qid")
  }

  /** LSH dedup-ADMISSION index gate (the dd6 grown-index pattern for
    * vectors): the standing [[Similarity.lshIndexBuild]] index is built
    * on even ids only, odd ids arrive via [[Similarity.lshIndexAppend]],
    * and the batch duplicates EVERY corpus vector at vec_id+1e6. The
    * check must find every constructed (id+1e6 → id) pair at cos 1.0 —
    * identical vectors share every bucket by construction — and half
    * of them are reachable ONLY through appended rows, so a bucket-key,
    * append-layout, or verification defect drops rows and fails the
    * hash gate.
    */
  val sim8_lshindex: Q = (s, d) => {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val table = s"sim8_idx_${d.hashCode & Int.MaxValue}"
    Similarity.lshIndexBuild(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", table)
    Similarity.lshIndexAppend(s, table,
      emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    val batch = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"))
    Similarity.lshDedupAgainst(s, table, batch, "vec_id", "embedding", 0.999)
      .filter(col("corpus_id") === col("batch_id") - 1000000L)
      .select(col("batch_id"), col("corpus_id"), col("cos"))
      .orderBy("batch_id")
  }

  /** IVFPQ gate (sim3/sim5's recall contract over the PRODUCT-QUANTIZED
    * index): ivfPqBuild persists cid-bucketed byte-code lists + the
    * id-bucketed raw refine table; ivfPqQuery ADC-scores the probed
    * lists off `m` byte codes per candidate and exact-re-ranks the top
    * `refineK`. Every query must keep ≥3/5 of the exact top-5 — so a
    * codebook, encode, ADC-table, or refine defect fails the gate.
    * Parameters are the measured floor for the hash-uniform testdata
    * embeddings (the PQ WORST case — no cluster structure for the
    * codebooks to exploit): m=16 (dsub=4) + refineK=50 holds minHits 3
    * across all 20 sf0.1 queries (DevPq round 9, with residual
    * encoding), while m=8 passes only 15-17/20 — residual encoding
    * recovered m=8 from its pre-residual 1/20 but not to gate level,
    * so the floor stays m=16; real embedding corpora sit far above it.
    */
  val sim9_ivfpq: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") % 100 === 0)
    val table = s"sim9_idx_${d.hashCode & Int.MaxValue}"
    ProductQuant.ivfPqBuild(emb, "vec_id", "embedding", table, m = 16)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("qid", "nid")
    val approx = ProductQuant.ivfPqQuery(s, table, q, "vec_id", "embedding",
      5, refineK = 50)
      .select("qid", "nid")
    exact.join(approx, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= 3)
      .select("qid").orderBy("qid")
  }

  /** OPQ gate ([[graft.operators.ProductQuant.ivfPqBuild]] `opq = true`
    * — the rotated-quantizer variant): sim9's recall contract served
    * through an index whose coarse centroids, codebook, and codes all
    * live in the learned rotation's space while queries rotate at the
    * ADC stage and the refine stage re-ranks on the UNROTATED raw
    * vectors. The tight refineK keeps the gate MECHANISM-honest (the
    * t44 lesson): if the query-side rotation, the rotated encode, or
    * the rotation persistence broke, the ADC estimates turn to noise,
    * the true neighbors miss the 50-candidate refine pool, and the
    * ≥3/5 filter drops qids — a covering-refine gate would stay green
    * through all of those breaks. On these hash-uniform (isotropic)
    * embeddings OPQ ≈ PQ by construction; the recall WIN is measured
    * on anisotropic corpora in BASELINE.md, the EXACTNESS (opq ≡ plain
    * at covering refine) is spec-pinned in ProductQuantSpec.
    */
  val sim17_opq: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") % 100 === 0)
    val table = s"sim17_idx_${d.hashCode & Int.MaxValue}"
    ProductQuant.ivfPqBuild(emb, "vec_id", "embedding", table, m = 16,
      opq = true)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("qid", "nid")
    val approx = ProductQuant.ivfPqQuery(s, table, q, "vec_id", "embedding",
      5, refineK = 50)
      .select("qid", "nid")
    exact.join(approx, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= 3)
      .select("qid").orderBy("qid")
  }

  /** IVFPQ APPEND gate (sim7's grown-index contract for the quantized
    * index): build on the even vec_ids only — coarse centroids AND the
    * PQ codebook train on half the corpus — then absorb the odd half
    * via ProductQuant.ivfPqAppend (standing centroids, standing
    * codebook, code rows and raw rows re-bucket, O(batch)). The grown
    * index must answer sim9's recall oracle over the WHOLE corpus: an
    * appended row that misses the code lists, the refine table, or
    * lands encoded against the wrong codebook drops hits and fails the
    * gate. Half-corpus training costs no recall here because the
    * testdata embeddings are hash-uniform — both halves are draws from
    * the same distribution, the frozen-quantizer append's design
    * assumption.
    */
  val sim10_pqappend: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") % 100 === 0)
    val table = s"sim10_idx_${d.hashCode & Int.MaxValue}"
    ProductQuant.ivfPqBuild(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", table, m = 16)
    val stats = ProductQuant.ivfPqAppend(s, table,
      emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
    require(stats.batchN > 0, "sim10: empty append batch")
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("qid", "nid")
    val approx = ProductQuant.ivfPqQuery(s, table, q, "vec_id", "embedding",
      5, refineK = 50)
      .select("qid", "nid")
    exact.join(approx, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= 3)
      .select("qid").orderBy("qid")
  }

  /** Two-level IVFPQ gate (sim6's super-quantizer assignment × sim9's
    * quantized serving): ivfPqBuild with `twoLevel = true` — the
    * corpus-assignment pass ranks ≈√nlist supers then only their
    * members, the 10¹²-extreme build path, over the SAME persisted
    * layout. Same recall contract as sim9 (every query keeps ≥3/5 of
    * the exact top-5 at m=16/refineK=50), certifying the approximate
    * assignment costs no gate-level recall through the ADC+refine
    * serving chain.
    */
  val sim11_pq2level: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") % 100 === 0)
    val table = s"sim11_idx_${d.hashCode & Int.MaxValue}"
    ProductQuant.ivfPqBuild(emb, "vec_id", "embedding", table, m = 16,
      twoLevel = true)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("qid", "nid")
    val approx = ProductQuant.ivfPqQuery(s, table, q, "vec_id", "embedding",
      5, refineK = 50)
      .select("qid", "nid")
    exact.join(approx, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= 3)
      .select("qid").orderBy("qid")
  }

  /** Sharded exact-ANN gate ([[graft.operators.Similarity
    * .bruteForceShardedTopK]]): the embedding corpus splits
    * vec-disjoint by parity, each shard ranks its exact local top-5,
    * and the bounded merge must reproduce the whole-corpus brute-force
    * ranking EXACTLY — the sim1 oracle verbatim (every global winner is
    * inside its own shard's top-k; ties resolve under the identical
    * (cos desc, nid asc) order).
    */
  /** Vector reshard gate ([[graft.operators.Similarity.splitShard]]):
    * a 2-shard IVF family grows to 3 by splitting shard 0 (list rows
    * rehashed by id, the parent's frozen coarse quantizer copied into
    * both children), and the post-split family served at
    * probeFrac = 1.0 must reproduce the whole-corpus exact ranking —
    * the sim1 oracle verbatim (full probe makes each shard's list scan
    * exhaustive, and the split never moves a vector between shards'
    * candidate sets).
    */
  val sim15_splitivf: Q = (s, d) => {
    import graft.operators.{BucketedJoin, Sharding}
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") % 100 === 0)
    val t0 = s"splv0_${d.hashCode & Int.MaxValue}"
    val t1 = s"splv1_${d.hashCode & Int.MaxValue}"
    val (c0, c1) = (s"${t0}a", s"${t0}b")
    BucketedJoin.dropWithLocation(s, Sharding.splitMarker(t0))
    Similarity.ivfBuild(emb.filter(Sharding.shardOf(col("vec_id"), 2) === 0),
      "vec_id", "embedding", t0)
    Similarity.ivfBuild(emb.filter(Sharding.shardOf(col("vec_id"), 2) === 1),
      "vec_id", "embedding", t1)
    Similarity.splitShard(s, t0, c0, c1, shardIndex = 0, nShards = 2)
    Similarity.ivfShardedQuery(s, Seq(c0, c1, t1), q,
        "vec_id", "embedding", 5, probeFrac = 1.0)
      .select(col("qid"), col("nid"), col("cos"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** Vector merge gate ([[graft.operators.Similarity.mergeIvfShards]])
    * — the sim15 contract run backwards: two shard-built IVF indexes
    * fold into one by RETRAINING on the union of their vectors
    * (quantizer spaces differ across shards, so row unions cannot mix),
    * and the merged index served at probeFrac = 1.0 must reproduce the
    * whole-corpus exact ranking — the sim1 oracle verbatim (full probe
    * makes the list scan exhaustive regardless of the retrained
    * centroid family).
    */
  val sim16_mergeivf: Q = (s, d) => {
    import graft.operators.{BucketedJoin, Sharding}
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") % 100 === 0)
    val t0 = s"mrgv0_${d.hashCode & Int.MaxValue}"
    val t1 = s"mrgv1_${d.hashCode & Int.MaxValue}"
    val m = s"mrgvm_${d.hashCode & Int.MaxValue}"
    BucketedJoin.dropWithLocation(s, Sharding.mergeMarker(m))
    Similarity.ivfBuild(emb.filter(Sharding.shardOf(col("vec_id"), 2) === 0),
      "vec_id", "embedding", t0)
    Similarity.ivfBuild(emb.filter(Sharding.shardOf(col("vec_id"), 2) === 1),
      "vec_id", "embedding", t1)
    Similarity.mergeIvfShards(s, t0, t1, m)
    Similarity.ivfQuery(s, m, q, "vec_id", "embedding", 5, probeFrac = 1.0)
      .select(col("qid"), col("nid"), col("cos"), col("rank"))
      .orderBy("qid", "rank")
  }

  val sim12_shardedknn: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") % 100 === 0)
    Similarity.bruteForceShardedTopK(
        Seq(emb.filter(col("vec_id") % 2 === 0),
            emb.filter(col("vec_id") % 2 =!= 0)),
        q, "vec_id", "embedding", 5)
      .select(col("qid"), col("nid"), col("cos"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** Sharded IVF recall gate ([[graft.operators.Similarity
    * .ivfShardedQuery]], the sim3/sim5 contract over two vec-disjoint
    * persisted shard indexes): each shard builds with its OWN
    * size-derived parameters and probes its own centroid family; the
    * merged ranking must keep ≥3/5 of the whole-corpus exact top-5 for
    * every query (oracle = every qid appears).
    */
  val sim13_shardedivf: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") % 100 === 0)
    val t0 = s"sivf0_${d.hashCode & Int.MaxValue}"
    val t1 = s"sivf1_${d.hashCode & Int.MaxValue}"
    Similarity.ivfBuild(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", t0)
    Similarity.ivfBuild(emb.filter(col("vec_id") % 2 =!= 0),
      "vec_id", "embedding", t1)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("qid", "nid")
    val approx = Similarity.ivfShardedQuery(s, Seq(t0, t1), q,
        "vec_id", "embedding", 5)
      .select("qid", "nid")
    exact.join(approx, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= 3)
      .select("qid").orderBy("qid")
  }

  /** Sharded IVFPQ recall gate ([[graft.operators.ProductQuant
    * .ivfPqShardedQuery]], sim9's contract over two vec-disjoint
    * quantized shard indexes): each shard trains its OWN codebook on
    * its own residual distribution; merged refined rankings (exact
    * cosine on raw vectors, so cross-codebook scores are globally
    * comparable) must keep ≥3/5 of the whole-corpus exact top-5 per
    * query.
    */
  val sim14_shardedpq: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") % 100 === 0)
    val t0 = s"spq0_${d.hashCode & Int.MaxValue}"
    val t1 = s"spq1_${d.hashCode & Int.MaxValue}"
    ProductQuant.ivfPqBuild(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", t0, m = 16)
    ProductQuant.ivfPqBuild(emb.filter(col("vec_id") % 2 =!= 0),
      "vec_id", "embedding", t1, m = 16)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("qid", "nid")
    val approx = ProductQuant.ivfPqShardedQuery(s, Seq(t0, t1), q,
        "vec_id", "embedding", 5, refineK = 50)
      .select("qid", "nid")
    exact.join(approx, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= 3)
      .select("qid").orderBy("qid")
  }

  /** LSH-blocked embedding near-dup gate (dd3's constructed-duplicate
    * pattern): the corpus has no natural cos ≥ 0.999 pairs, so every
    * vector is unioned with an identical copy at vec_id+1e6 and the
    * blocked path must recover ALL (i, i+1e6) pairs — guaranteed by
    * construction (identical vectors share every LSH bucket), so a
    * banding, join, or cosine defect drops rows and fails the gate. The
    * brute-force all-pairs body is spec-side only (SimilaritySpec).
    */
  val sim4_neardup: Q = (s, d) => {
    val base = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val dup = base.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Similarity.cosineNearDupPairsBlocked(base.unionByName(dup),
        "vec_id", "embedding", 0.999)
      .filter(col("idb") === col("ida") + 1000000L)
      .select("ida", "idb", "cos").orderBy("ida", "idb")
  }

  // ---------------------------------------------------------------- MM: multimodal plumbing

  /** Gates only the REAL outputs of the decode plumbing (byte length of
    * the binary payload through the partition-batched transform); the
    * stubbed width/height formula is spec-verified as a stub contract,
    * not oracle-gated (an oracle echoing the stub would certify
    * nothing).
    */
  val mm1_decode: Q = (s, d) => {
    val media = Multimodal.asMedia(docs(s, d), "doc_id", "text", "image")
    Multimodal.decodeFeatures(media).toDF()
      .select(col("id"), col("media_type"), col("n_bytes"))
      .orderBy("id")
  }

  /** REAL image decode gate: per-doc solid-color PNGs are rendered
    * distributedly (dims and color derived from doc_id), then decoded
    * with javax.imageio — the gated width/height/top-left-pixel values
    * exist ONLY inside the encoded PNG bytes, so a green row certifies a
    * genuine encode→decode round trip, not an echoed formula. (PNG byte
    * length is encoder-dependent and deliberately not gated.)
    */
  val mm2_image: Q = (s, d) => {
    import s.implicits._
    val ids = docs(s, d).select(col("doc_id")).as[Long]
    val media = ids.mapPartitions { it =>
      it.map { id =>
        val w = (id % 31 + 1).toInt
        val h = (id % 17 + 1).toInt
        val rgb = (((id % 256) << 16) | ((id * 7 % 256) << 8) | (id * 13 % 256)).toInt
        Multimodal.MediaRow(id, Multimodal.pngBytes(w, h, rgb), "image")
      }
    }
    Multimodal.decodeImages(media).toDF()
      .select(col("id"), col("width"), col("height"), col("px00"))
      .orderBy("id")
  }

  /** REAL keyframe-extraction gate (mm2's encode→decode discipline,
    * lifted to multi-frame media): per-doc animated GIFs are rendered
    * distributedly (frame count, dims, and per-frame colors derived
    * from doc_id), then every frame is decoded with javax.imageio's
    * sequence reader — the gated frame_index/width/height/px00 values
    * exist ONLY inside the encoded GIF container, so a green row
    * certifies genuine per-frame decoding (frame count AND pixels),
    * not an echoed formula or a byte-chunking stub. (The stride stub
    * `sampleFrames` remains the fallback for codec-less containers and
    * is spec-verified as a stub contract.)
    */
  val mm3_frames: Q = (s, d) => {
    import s.implicits._
    val ids = docs(s, d).select(col("doc_id")).as[Long]
    val media = ids.mapPartitions { it =>
      it.map { id =>
        val w = (id % 5 + 1).toInt
        val h = (id % 3 + 1).toInt
        val rgbs = (0L until (1 + id % 4)).map { f =>
          ((((id * 31 + f * 17) % 256) << 16) |
            (((id * 7 + f * 29) % 256) << 8) |
            ((id * 13 + f * 37) % 256)).toInt
        }
        Multimodal.MediaRow(id, Multimodal.gifBytes(w, h, rgbs), "gif")
      }
    }
    Multimodal.keyframes(media).toDF()
      .select(col("id"), col("frame_index"), col("width"), col("height"),
        col("px00"))
      .orderBy("id", "frame_index")
  }

  /** REAL audio decode gate: per-doc 16-bit PCM WAVs are rendered
    * distributedly (rate/channels/frames/first-sample derived from
    * doc_id), then parsed with javax.sound.sampled — the gated values
    * exist ONLY inside the encoded WAV bytes (header fields + the first
    * decoded PCM sample), so a green row certifies a genuine
    * encode→decode round trip, not an echoed formula. Retires the last
    * non-video multimodal stub (reference multimodal ingestion is
    * opaque-binary + typed metadata; cf. `io:SequenceFile` binary
    * records).
    */
  val mm4_audio: Q = (s, d) => {
    import s.implicits._
    val ids = docs(s, d).select(col("doc_id")).as[Long]
    val media = ids.mapPartitions { it =>
      it.map { id =>
        val sr = (8000 + (id % 8) * 1000).toInt
        val ch = (1 + id % 2).toInt
        val frames = (1 + id % 50).toInt
        val s0 = ((id * 37) % 4001 - 2000).toShort
        Multimodal.MediaRow(id, Multimodal.wavBytes(sr, ch, frames, s0), "audio")
      }
    }
    Multimodal.decodeAudios(media).toDF()
      .select(col("id"), col("sample_rate"), col("channels"),
        col("frames"), col("first_sample"))
      .orderBy("id")
  }

  // ---------------------------------------------------------------- W: windows (streaming extension)

  val w1_tumbling: Q = (s, d) =>
    Windows.tumbling(Tables.events(s, d), "ts", "1 hour")
      .orderBy("ws", "event_type")

  val w2_sessions: Q = (s, d) =>
    Windows.sessions(Tables.events(s, d), "ts", "30 minutes")
      .orderBy("user_id", "session_start")

  /** Sliding windows (1 h window, 30 min slide): every event lands in
    * exactly two windows; the oracle replicates that with a 2-row cross
    * join of 30-minute buckets.
    */
  val w3_sliding: Q = (s, d) =>
    Windows.sliding(Tables.events(s, d), "ts", "1 hour", "30 minutes")
      .orderBy("ws", "event_type")

  /** Custom-state sessionization (flatMapGroupsWithState) run in batch
    * flush mode over the events table — the arbitrary-stateful-operator
    * surface gated against the same window-free SQL sessionization that
    * verifies w2.
    */
  val w4_statefulsessions: Q = (s, d) => {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("value"))
      .as[Windows.SessionEvent]
    Windows.statefulSessions(ev, 30L * 60 * 1000, flushOpenAtEnd = true)
      .toDF()
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), Det.r2(col("sum_val")).as("sum_val"))
      .orderBy("user_id", "session_start")
  }

  /** Stream-stream interval join in its batch form (same plan shape the
    * watermarked streaming variant runs — MiscOpsSpec drives the actual
    * two-memory-stream execution): each sampled probe event counts the
    * same user's events in the 10 minutes up to and including it (≥1 —
    * itself). Oracle = the plain theta join.
    */
  val w5_intervaljoin: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val probes = ev.filter(col("event_id") % 100 === 0)
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val r = ev.select(col("user_id").as("r_user"), col("ts").as("r_ts"))
    Windows.intervalJoin(probes, "p_user", "p_ts", r, "r_user", "r_ts",
        "10 MINUTES", "0 SECONDS")
      .groupBy("p_id").agg(count(lit(1)).as("n"))
      .orderBy("p_id")
  }

  // ================================================================ registry

  val all: Map[String, Q] = Map(
    "a1_wordcount" -> a1_wordcount, "a2_uniq" -> a2_uniq,
    "a3_histogram" -> a3_histogram, "a4_aggstats" -> a4_aggstats,
    "a5_approxuniq" -> a5_approxuniq,
    "s1_wordmean" -> s1_wordmean, "s2_wordmedian" -> s2_wordmedian,
    "s3_wordstddev" -> s3_wordstddev, "g1_grep" -> g1_grep,
    "f1_fieldsel" -> f1_fieldsel, "f2_md5sample" -> f2_md5sample,
    "f3_regexscan" -> f3_regexscan, "o1_sort" -> o1_sort,
    "o2_secsort" -> o2_secsort, "o3_terasort" -> o3_terasort,
    "o6_streamgroups" -> o6_streamgroups,
    "j1_join" -> j1_join, "j2_outer" -> j2_outer, "j3_override" -> j3_override,
    "d1_pageview" -> d1_pageview, "m1_pi" -> m1_pi, "m2_bbp" -> m2_bbp,
    "m3_sudoku" -> m3_sudoku, "m4_pentomino" -> m4_pentomino,
    "m5_distsum" -> m5_distsum,
    "u1_pipe" -> u1_pipe,
    "i1_kvtext" -> i1_kvtext, "i2_fixedlen" -> i2_fixedlen,
    "i3_seqfile" -> i3_seqfile, "i5_binseq" -> i5_binseq,
    "d2_datesplit" -> d2_datesplit, "o5_charsort" -> o5_charsort,
    "mi1_multi" -> mi1_multi,
    "k1_partitioned" -> k1_partitioned, "c1_safemap" -> c1_safemap,
    "o4_sortspec" -> o4_sortspec, "u2_pipereduce" -> u2_pipereduce,
    "j4_cogroup" -> j4_cogroup, "j5_bucketed" -> j5_bucketed,
    "j6_asof" -> j6_asof, "j7_range" -> j7_range, "j8_salted" -> j8_salted,
    "j9_hotkeys" -> j9_hotkeys,
    "mf1_lookup" -> mf1_lookup, "mf2_closest" -> mf2_closest,
    "ar1_archive" -> ar1_archive,
    "i4_xml" -> i4_xml, "w3_sliding" -> w3_sliding,
    "w4_statefulsessions" -> w4_statefulsessions,
    "w5_intervaljoin" -> w5_intervaljoin,
    "p1_clean" -> p1_clean,
    "dd1_exact" -> dd1_exact, "dd2_minhash" -> dd2_minhash,
    "dd3_simhash" -> dd3_simhash, "dd4_ngram" -> dd4_ngram,
    "dd5_incdedup" -> dd5_incdedup, "dd6_incappend" -> dd6_incappend,
    "dd7_components" -> dd7_components,
    "dd8_components_star" -> dd8_components_star,
    "dd9_simhash_sharded" -> dd9_simhash_sharded,
    "dd10_tombstone" -> dd10_tombstone, "dd11_tombfold" -> dd11_tombfold,
    "dd12_shardedadmit" -> dd12_shardedadmit,
    "dd13_splitadmit" -> dd13_splitadmit,
    "dd14_mergeadmit" -> dd14_mergeadmit,
    "t1_tokens" -> t1_tokens, "t2_quality" -> t2_quality,
    "t3_langid" -> t3_langid, "t4_fingerprint" -> t4_fingerprint,
    "t5_commonality" -> t5_commonality, "t6_chunks" -> t6_chunks,
    "t7_redact" -> t7_redact, "f4_split" -> f4_split,
    "t8_dupngrams" -> t8_dupngrams, "p2_rulefilter" -> p2_rulefilter,
    "p3_componentclean" -> p3_componentclean,
    "t9_shardpack" -> t9_shardpack, "t10_mix" -> t10_mix,
    "t11_decontam" -> t11_decontam, "t12_cms" -> t12_cms,
    "t13_stratified" -> t13_stratified, "t14_quantiles" -> t14_quantiles,
    "t15_bloom" -> t15_bloom, "t16_bm25" -> t16_bm25,
    "t17_bm25append" -> t17_bm25append,
    "t18_bm25delete" -> t18_bm25delete, "t19_bm25dfold" -> t19_bm25dfold,
    "t20_bm25phrase" -> t20_bm25phrase, "t21_bm25near" -> t21_bm25near,
    "t22_hybrid" -> t22_hybrid, "t23_hybridlinear" -> t23_hybridlinear,
    "t24_lmscore" -> t24_lmscore, "t25_lmappend" -> t25_lmappend,
    "t26_snippets" -> t26_snippets, "t27_hybridpq" -> t27_hybridpq,
    "t28_nearsnippets" -> t28_nearsnippets,
    "t29_bowsnippets" -> t29_bowsnippets,
    "t30_lmremove" -> t30_lmremove,
    "t31_hybridsnippets" -> t31_hybridsnippets,
    "t32_shardedbm25" -> t32_shardedbm25,
    "t33_shardednear" -> t33_shardednear,
    "t34_shardedphrase" -> t34_shardedphrase,
    "t35_shardedlm" -> t35_shardedlm,
    "t36_shardedhybrid" -> t36_shardedhybrid,
    "t37_shardedhybridsnip" -> t37_shardedhybridsnip,
    "t38_shardedhybridivf" -> t38_shardedhybridivf,
    "t39_shardedhybridlinear" -> t39_shardedhybridlinear,
    "t40_splitbm25" -> t40_splitbm25,
    "t41_splitlm" -> t41_splitlm,
    "t42_mergebm25" -> t42_mergebm25,
    "t43_mergelm" -> t43_mergelm,
    "t44_maxscore" -> t44_maxscore,
    "t45_shardedmaxscore" -> t45_shardedmaxscore,
    "t46_hybridmaxscore" -> t46_hybridmaxscore,
    "t47_shardedhybridmaxscore" -> t47_shardedhybridmaxscore,
    "t48_groupedhybridmaxscore" -> t48_groupedhybridmaxscore,
    "t49_blockmax" -> t49_blockmax,
    "sim1_knn" -> sim1_knn, "sim2_lsh" -> sim2_lsh, "sim3_ivf" -> sim3_ivf,
    "sim4_neardup" -> sim4_neardup, "sim5_ivfindex" -> sim5_ivfindex,
    "sim6_ivf2level" -> sim6_ivf2level, "sim7_ivfappend" -> sim7_ivfappend,
    "sim8_lshindex" -> sim8_lshindex, "sim9_ivfpq" -> sim9_ivfpq,
    "sim10_pqappend" -> sim10_pqappend, "sim11_pq2level" -> sim11_pq2level,
    "sim12_shardedknn" -> sim12_shardedknn,
    "sim13_shardedivf" -> sim13_shardedivf,
    "sim14_shardedpq" -> sim14_shardedpq,
    "sim15_splitivf" -> sim15_splitivf,
    "sim16_mergeivf" -> sim16_mergeivf,
    "sim17_opq" -> sim17_opq,
    "mm1_decode" -> mm1_decode, "mm2_image" -> mm2_image,
    "mm3_frames" -> mm3_frames, "mm4_audio" -> mm4_audio,
    "w1_tumbling" -> w1_tumbling,
    "w2_sessions" -> w2_sessions)

  /** Full BM25 recomputed from the raw documents table (shared by
    * t16/t17 — the append gate answers the same whole-corpus oracle —
    * and, with `corpusWhere`, by the t18/t19 DELETION gates: the oracle
    * simply indexes the retained slice, which IS the deletion contract
    * — grown-with-tombstones ≡ rebuilt-without. Queries always come
    * from the full documents table; a deleted doc may still query).
    * Mirrors Retrieval.bm25Query op for op: same lowercased-whitespace
    * tokenizer, same Lucene-variant idf, same k1=1.2/b=0.75 literals in
    * the same association order, per-term contributions rounded to
    * micro-units and summed as exact integers (DuckDB SUM(BIGINT) is
    * HUGEINT — cast back), ranked (score desc, doc_id asc).
    */

  /** The t24/t30 add-one bigram-LM oracle (shared: t24 TRAINS on the
    * even docs; t30 trains on everything and REMOVES the odds — the
    * takedown contract says those models are numerically identical,
    * so they answer to the same SQL).
    */
  private val lmEvenModelOracleSql: String =
    """WITH toksAll AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
      |    x -> length(x) > 0) AS ws
      |  FROM documents),
      |toksTrain AS (SELECT doc_id, ws FROM toksAll WHERE doc_id % 2 = 0),
      |bgTrain AS (
      |  SELECT ws[g.i] AS w1, ws[g.i + 1] AS w2
      |  FROM toksTrain CROSS JOIN LATERAL
      |    (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g),
      |bgc AS (SELECT w1, w2, count(*) AS c FROM bgTrain GROUP BY w1, w2),
      |hist AS (SELECT w1, CAST(sum(c) AS BIGINT) AS ch FROM bgc GROUP BY w1),
      |vst AS (SELECT count(DISTINCT x) AS v FROM
      |  (SELECT unnest(ws) AS x FROM toksTrain)),
      |bgAll AS (
      |  SELECT doc_id, ws[g.i] AS w1, ws[g.i + 1] AS w2
      |  FROM toksAll CROSS JOIN LATERAL
      |    (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g),
      |contrib AS (
      |  SELECT bgAll.doc_id,
      |    CAST(round(ln(
      |      (CAST(COALESCE(bgc.c, 0) AS DOUBLE) + 1.0) /
      |      (CAST(COALESCE(hist.ch, 0) AS DOUBLE) + CAST(vst.v AS DOUBLE)))
      |      * 1000000.0) AS BIGINT) AS lp
      |  FROM bgAll
      |  LEFT JOIN bgc ON bgc.w1 = bgAll.w1 AND bgc.w2 = bgAll.w2
      |  LEFT JOIN hist ON hist.w1 = bgAll.w1
      |  CROSS JOIN vst),
      |scored AS (SELECT doc_id, count(*) AS n_bigrams,
      |    CAST(sum(lp) AS BIGINT) AS logp_micro
      |  FROM contrib GROUP BY doc_id)
      |SELECT d.doc_id AS id,
      |  COALESCE(s.n_bigrams, 0) AS n_bigrams,
      |  COALESCE(s.logp_micro, 0) AS logp_micro
      |FROM (SELECT DISTINCT doc_id FROM documents) d
      |LEFT JOIN scored s USING (doc_id) ORDER BY id""".stripMargin

  /** The t31/t37 hybrid-snippet oracle (shared: the sharded
    * deployment must produce the identical fused passages — the t37
    * contract): t22 RRF fusion recomputed, then the t29
    * argmax/first-occurrence/slice attached via LEFT joins.
    */
  private val hybridSnippetsOracleSql: String =
      """WITH qids AS (
        |  SELECT d.doc_id AS qid FROM documents d
        |  JOIN embeddings e ON e.vec_id = d.doc_id
        |  WHERE d.doc_id % 50 = 0),
        |docs0 AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> length(x) > 0) AS toklist
        |  FROM documents),
        |toks AS (SELECT doc_id, unnest(toklist) AS term FROM docs0),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n,
        |  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |qt AS (SELECT DISTINCT qid, term FROM (
        |  SELECT doc_id AS qid, unnest(list_slice(toklist, 1, 3)) AS term
        |  FROM docs0 WHERE doc_id IN (SELECT qid FROM qids))),
        |partials AS (
        |  SELECT qt.qid, tf.doc_id, qt.term,
        |    CAST(round(
        |      ln((CAST(stats.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
        |          / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(tf.tf AS DOUBLE) * 2.2
        |          / (CAST(tf.tf AS DOUBLE)
        |             + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / stats.avgdl)))
        |      * 1000000.0) AS BIGINT) AS partial
        |  FROM qt JOIN df USING (term) JOIN tf USING (term)
        |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
        |lexscored AS (SELECT qid, doc_id,
        |    CAST(sum(partial) AS BIGINT) AS score_micro
        |  FROM partials GROUP BY qid, doc_id),
        |lexranked AS (
        |  SELECT qid, doc_id, CAST(row_number() OVER (PARTITION BY qid
        |    ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rnk
        |  FROM lexscored),
        |vq AS (SELECT vec_id, embedding FROM embeddings
        |       WHERE vec_id IN (SELECT qid FROM qids)),
        |vs AS (SELECT vq.vec_id AS qid, e.vec_id AS nid,
        |  list_inner_product(vq.embedding::DOUBLE[], e.embedding::DOUBLE[]) /
        |  (sqrt(list_inner_product(vq.embedding::DOUBLE[], vq.embedding::DOUBLE[])) *
        |   sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS c
        |  FROM vq JOIN embeddings e ON vq.vec_id <> e.vec_id),
        |vr AS (SELECT qid, nid, floor(c * 1000000 + 0.5) / 1000000 AS cos FROM vs),
        |vecranked AS (SELECT qid, nid,
        |  CAST(row_number() OVER (PARTITION BY qid
        |    ORDER BY cos DESC, nid) AS INTEGER) AS rnk FROM vr),
        |contrib AS (
        |  SELECT qid, doc_id AS id,
        |    CAST(floor(1000000.0 / (60 + rnk) + 0.5) AS BIGINT) AS c
        |  FROM lexranked WHERE rnk <= 5
        |  UNION ALL
        |  SELECT qid, nid AS id,
        |    CAST(floor(1000000.0 / (60 + rnk) + 0.5) AS BIGINT) AS c
        |  FROM vecranked WHERE rnk <= 5),
        |fused AS (SELECT qid, id, CAST(sum(c) AS BIGINT) AS fused_micro
        |          FROM contrib GROUP BY qid, id),
        |final AS (SELECT qid, id, fused_micro,
        |  CAST(row_number() OVER (PARTITION BY qid
        |    ORDER BY fused_micro DESC, id) AS INTEGER) AS rnk FROM fused),
        |best AS (SELECT qid, doc_id, term FROM (
        |  SELECT qid, doc_id, term, row_number() OVER (
        |    PARTITION BY qid, doc_id ORDER BY partial DESC, term) AS rn
        |  FROM partials) WHERE rn = 1),
        |pos AS (SELECT doc_id, unnest(toklist) AS term,
        |          CAST(generate_subscripts(toklist, 1) AS BIGINT) AS pos
        |        FROM docs0),
        |fs AS (SELECT b.qid, b.doc_id, CAST(min(p.pos) - 1 AS BIGINT) AS start
        |       FROM best b JOIN pos p
        |         ON p.doc_id = b.doc_id AND p.term = b.term
        |       GROUP BY b.qid, b.doc_id)
        |SELECT f.qid, f.id, f.fused_micro, f.rnk, fs.start,
        |  CASE WHEN fs.start IS NOT NULL THEN
        |    array_to_string(list_slice(d.toklist,
        |      CAST(greatest(fs.start - 2, 0) + 1 AS INTEGER),
        |      CAST(fs.start + 3 AS INTEGER)), ' ')
        |  END AS snippet
        |FROM final f
        |LEFT JOIN fs ON fs.qid = f.qid AND fs.doc_id = f.id
        |LEFT JOIN docs0 d ON d.doc_id = f.id
        |WHERE f.rnk <= 5 ORDER BY f.qid, f.rnk""".stripMargin

  /** The t25/t35 whole-trained bigram-LM oracle (shared: t25 GROWS an
    * even-trained model by appending the odds; t35 trains two parity
    * SHARD models and scores through the sharded fold — both must be
    * numerically identical to one model trained on everything).
    */
  private val lmWholeModelOracleSql: String =
    """WITH toksAll AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
      |    x -> length(x) > 0) AS ws
      |  FROM documents),
      |bgTrain AS (
      |  SELECT ws[g.i] AS w1, ws[g.i + 1] AS w2
      |  FROM toksAll CROSS JOIN LATERAL
      |    (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g),
      |bgc AS (SELECT w1, w2, count(*) AS c FROM bgTrain GROUP BY w1, w2),
      |hist AS (SELECT w1, CAST(sum(c) AS BIGINT) AS ch FROM bgc GROUP BY w1),
      |vst AS (SELECT count(DISTINCT x) AS v FROM
      |  (SELECT unnest(ws) AS x FROM toksAll)),
      |bgAll AS (
      |  SELECT doc_id, ws[g.i] AS w1, ws[g.i + 1] AS w2
      |  FROM toksAll CROSS JOIN LATERAL
      |    (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g),
      |contrib AS (
      |  SELECT bgAll.doc_id,
      |    CAST(round(ln(
      |      (CAST(COALESCE(bgc.c, 0) AS DOUBLE) + 1.0) /
      |      (CAST(COALESCE(hist.ch, 0) AS DOUBLE) + CAST(vst.v AS DOUBLE)))
      |      * 1000000.0) AS BIGINT) AS lp
      |  FROM bgAll
      |  LEFT JOIN bgc ON bgc.w1 = bgAll.w1 AND bgc.w2 = bgAll.w2
      |  LEFT JOIN hist ON hist.w1 = bgAll.w1
      |  CROSS JOIN vst),
      |scored AS (SELECT doc_id, count(*) AS n_bigrams,
      |    CAST(sum(lp) AS BIGINT) AS logp_micro
      |  FROM contrib GROUP BY doc_id)
      |SELECT d.doc_id AS id,
      |  COALESCE(s.n_bigrams, 0) AS n_bigrams,
      |  COALESCE(s.logp_micro, 0) AS logp_micro
      |FROM (SELECT DISTINCT doc_id FROM documents) d
      |LEFT JOIN scored s USING (doc_id) ORDER BY id""".stripMargin

  /** The t20/t34 phrase oracle (shared: sharded phrase serving must
    * equal the whole-corpus recomputation — the t34 contract): phrase
    * membership via substring match on the single-space-joined token
    * list, scoring = t16 restricted to matched docs.
    */
  private val phraseOracleSql: String =
    """WITH docs0 AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
      |    x -> length(x) > 0) AS toklist
      |  FROM documents),
      |toks AS (SELECT doc_id, unnest(toklist) AS term FROM docs0),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
      |stats AS (SELECT count(*) AS n,
      |  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |q AS (SELECT doc_id AS qid,
      |        array_to_string(list_slice(toklist, 1, 3), ' ') AS phrase,
      |        list_slice(toklist, 1, 3) AS qtoks
      |      FROM docs0 WHERE doc_id % 50 = 0),
      |qt AS (SELECT DISTINCT qid, term FROM (
      |  SELECT qid, unnest(qtoks) AS term FROM q)),
      |matched AS (
      |  SELECT q.qid, d.doc_id
      |  FROM q JOIN docs0 d
      |    ON length(q.phrase) > 0
      |   AND position((' ' || q.phrase || ' ') IN
      |        (' ' || array_to_string(d.toklist, ' ') || ' ')) > 0),
      |scored AS (
      |  SELECT qt.qid, tf.doc_id,
      |    CAST(sum(CAST(round(
      |      ln((CAST(stats.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
      |          / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
      |      * (CAST(tf.tf AS DOUBLE) * 2.2
      |          / (CAST(tf.tf AS DOUBLE)
      |             + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / stats.avgdl)))
      |      * 1000000.0) AS BIGINT)) AS BIGINT) AS score_micro
      |  FROM qt JOIN df USING (term) JOIN tf USING (term)
      |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
      |       JOIN matched m ON m.qid = qt.qid AND m.doc_id = tf.doc_id
      |  GROUP BY qt.qid, tf.doc_id),
      |ranked AS (
      |  SELECT qid, doc_id, score_micro,
      |    CAST(row_number() OVER (PARTITION BY qid
      |      ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rnk
      |  FROM scored)
      |SELECT qid, doc_id, score_micro, rnk FROM ranked
      |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin


  /** The dd5/dd6/dd12/dd13 incremental-minhash oracle (shared: the
    * grown, SHARDED, and post-split admission indexes must all find
    * exactly the pairs the whole-built one does): the exact-Jaccard
    * batch-vs-corpus recomputation in SQL, intersected with the
    * engine's index lookups.
    */
  private val minhashIncOracleSql: String =
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS w FROM all_docs),
        |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
        |  i -> array_to_string(w[i:i+2], ' '))) AS sh FROM toks),
        |sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (SELECT ida, idb, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |  FROM inter JOIN sz sa ON ida = sa.doc_id JOIN sz sb ON idb = sb.doc_id)
        |SELECT ida AS corpus_id, idb AS batch_id FROM j
        |WHERE jaccard >= 0.8 AND ida < 1000000 AND idb >= 1000000
        |ORDER BY corpus_id, batch_id""".stripMargin

  /** The sim1/sim12 exact-kNN oracle (shared: sharded brute-force
    * serving must equal the whole-corpus ranking — the sim12 contract):
    * exact cosine over all (query, vector) pairs excluding self, r6
    * rounding, (cos desc, nid asc) top-5.
    */
  private val knnOracleSql: String =
    """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 100 = 0),
      |s AS (SELECT q.vec_id AS qid, e.vec_id AS nid,
      |  list_inner_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) /
      |  (sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
      |   sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS c
      |  FROM q JOIN embeddings e ON q.vec_id <> e.vec_id),
      |r AS (SELECT qid, nid, floor(c * 1000000 + 0.5) / 1000000 AS cos FROM s),
      |t AS (SELECT qid, nid, cos,
      |  CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rank FROM r)
      |SELECT qid, nid, cos, rank FROM t WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** The t21/t33 NEAR oracle (shared: sharded NEAR serving must equal
    * the whole-corpus recomputation — that IS the t33 contract): covers
    * derived occurrence-anchored over a positional view, scoring = t16
    * restricted to matched docs.
    */
  private val nearOracleSql: String =
    """WITH docs0 AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
      |    x -> length(x) > 0) AS toklist
      |  FROM documents),
      |toks AS (SELECT doc_id, unnest(toklist) AS term FROM docs0),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
      |stats AS (SELECT count(*) AS n,
      |  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |pos AS (SELECT doc_id, unnest(toklist) AS term,
      |          CAST(generate_subscripts(toklist, 1) AS BIGINT) AS pos
      |        FROM docs0),
      |q AS (SELECT doc_id AS qid, list_slice(toklist, 1, 3) AS qtoks
      |      FROM docs0 WHERE doc_id % 50 = 0),
      |qt AS (SELECT DISTINCT qid, term FROM (
      |  SELECT qid, unnest(qtoks) AS term FROM q)),
      |qn AS (SELECT qid, count(*) AS nterms FROM qt GROUP BY qid),
      |qpos AS (SELECT qt.qid, p.doc_id, p.term, p.pos
      |         FROM qt JOIN pos p ON p.term = qt.term),
      |matched AS (
      |  SELECT qid, doc_id FROM (
      |    SELECT a.qid, a.doc_id, a.pos,
      |      count(DISTINCT o.term) AS nh, any_value(qn.nterms) AS nt
      |    FROM qpos a
      |    JOIN qpos o ON o.qid = a.qid AND o.doc_id = a.doc_id
      |      AND o.pos BETWEEN a.pos AND a.pos + 7
      |    JOIN qn ON qn.qid = a.qid
      |    GROUP BY a.qid, a.doc_id, a.pos)
      |  WHERE nh = nt GROUP BY qid, doc_id),
      |scored AS (
      |  SELECT qt.qid, tf.doc_id,
      |    CAST(sum(CAST(round(
      |      ln((CAST(stats.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
      |          / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
      |      * (CAST(tf.tf AS DOUBLE) * 2.2
      |          / (CAST(tf.tf AS DOUBLE)
      |             + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / stats.avgdl)))
      |      * 1000000.0) AS BIGINT)) AS BIGINT) AS score_micro
      |  FROM qt JOIN df USING (term) JOIN tf USING (term)
      |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
      |       JOIN matched m ON m.qid = qt.qid AND m.doc_id = tf.doc_id
      |  GROUP BY qt.qid, tf.doc_id),
      |ranked AS (
      |  SELECT qid, doc_id, score_micro,
      |    CAST(row_number() OVER (PARTITION BY qid
      |      ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rnk
      |  FROM scored)
      |SELECT qid, doc_id, score_micro, rnk FROM ranked
      |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  /** The t22/t27 hybrid-RRF oracle (shared: the IVFPQ gate runs at
    * probeFrac = 1.0 with corpus-covering refineK, so its vector leg
    * is the exact cosine leg and the RRF recomputation is identical).
    * `textExpr`/`qtExtra` parameterize the t46/t47 MaxScore-leg twins
    * exactly as [[bm25OracleSql]]'s do: the corpus indexes
    * `text || ' zzhead'` and every query gains the guaranteed head
    * term, so the two-pass pruned plan is what answers the fused
    * oracle (the t44 protocol through the fusion layer).
    */
  private def hybridRrfOracleSqlWith(textExpr: String = "text",
                                     qtExtra: String = ""): String =
    s"""WITH qids AS (
      |  SELECT d.doc_id AS qid FROM documents d
      |  JOIN embeddings e ON e.vec_id = d.doc_id
      |  WHERE d.doc_id % 50 = 0),
      |toks AS (
      |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower($textExpr), '\\s+'),
      |    x -> length(x) > 0)) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
      |stats AS (SELECT count(*) AS n,
      |  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |qt AS (SELECT DISTINCT qid, term FROM (
      |  SELECT doc_id AS qid,
      |    unnest(list_slice(list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |      x -> length(x) > 0), 1, 3)) AS term
      |  FROM documents WHERE doc_id IN (SELECT qid FROM qids)$qtExtra)),
      |lexscored AS (
      |  SELECT qt.qid, tf.doc_id,
      |    CAST(sum(CAST(round(
      |      ln((CAST(stats.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
      |          / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
      |      * (CAST(tf.tf AS DOUBLE) * 2.2
      |          / (CAST(tf.tf AS DOUBLE)
      |             + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / stats.avgdl)))
      |      * 1000000.0) AS BIGINT)) AS BIGINT) AS score_micro
      |  FROM qt JOIN df USING (term) JOIN tf USING (term)
      |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
      |  GROUP BY qt.qid, tf.doc_id),
      |lexranked AS (
      |  SELECT qid, doc_id, CAST(row_number() OVER (PARTITION BY qid
      |    ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rnk
      |  FROM lexscored),
      |vq AS (SELECT vec_id, embedding FROM embeddings
      |       WHERE vec_id IN (SELECT qid FROM qids)),
      |vs AS (SELECT vq.vec_id AS qid, e.vec_id AS nid,
      |  list_inner_product(vq.embedding::DOUBLE[], e.embedding::DOUBLE[]) /
      |  (sqrt(list_inner_product(vq.embedding::DOUBLE[], vq.embedding::DOUBLE[])) *
      |   sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS c
      |  FROM vq JOIN embeddings e ON vq.vec_id <> e.vec_id),
      |vr AS (SELECT qid, nid, floor(c * 1000000 + 0.5) / 1000000 AS cos FROM vs),
      |vecranked AS (SELECT qid, nid,
      |  CAST(row_number() OVER (PARTITION BY qid
      |    ORDER BY cos DESC, nid) AS INTEGER) AS rnk FROM vr),
      |contrib AS (
      |  SELECT qid, doc_id AS id,
      |    CAST(floor(1000000.0 / (60 + rnk) + 0.5) AS BIGINT) AS c
      |  FROM lexranked WHERE rnk <= 5
      |  UNION ALL
      |  SELECT qid, nid AS id,
      |    CAST(floor(1000000.0 / (60 + rnk) + 0.5) AS BIGINT) AS c
      |  FROM vecranked WHERE rnk <= 5),
      |fused AS (SELECT qid, id, CAST(sum(c) AS BIGINT) AS fused_micro
      |          FROM contrib GROUP BY qid, id),
      |final AS (SELECT qid, id, fused_micro,
      |  CAST(row_number() OVER (PARTITION BY qid
      |    ORDER BY fused_micro DESC, id) AS INTEGER) AS rnk FROM fused)
      |SELECT qid, id, fused_micro, rnk FROM final
      |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  private val hybridRrfOracleSql: String = hybridRrfOracleSqlWith()

  /** The t23/t39 hybrid-LINEAR oracle (shared: sharded linear fusion
    * over exact legs must equal the whole-corpus linear recomputation
    * — the t39 contract): per-(leg, qid) min-max normalization over
    * each leg's retrieved top-5 (max = min ⇒ 1.0), weighted micro
    * contributions floor(1e6·norm + 0.5) integer-summed. The FP
    * expression (s − mn)/(mx − mn) is op-for-op the Spark form.
    */
  private val hybridLinearOracleSql: String =
      """WITH qids AS (
        |  SELECT d.doc_id AS qid FROM documents d
        |  JOIN embeddings e ON e.vec_id = d.doc_id
        |  WHERE d.doc_id % 50 = 0),
        |toks AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> length(x) > 0)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n,
        |  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |qt AS (SELECT DISTINCT qid, term FROM (
        |  SELECT doc_id AS qid,
        |    unnest(list_slice(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> length(x) > 0), 1, 3)) AS term
        |  FROM documents WHERE doc_id IN (SELECT qid FROM qids))),
        |lexscored AS (
        |  SELECT qt.qid, tf.doc_id,
        |    CAST(sum(CAST(round(
        |      ln((CAST(stats.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
        |          / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(tf.tf AS DOUBLE) * 2.2
        |          / (CAST(tf.tf AS DOUBLE)
        |             + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / stats.avgdl)))
        |      * 1000000.0) AS BIGINT)) AS BIGINT) AS score_micro
        |  FROM qt JOIN df USING (term) JOIN tf USING (term)
        |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
        |  GROUP BY qt.qid, tf.doc_id),
        |lexranked AS (
        |  SELECT qid, doc_id, score_micro,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rnk
        |  FROM lexscored),
        |lexk AS (SELECT qid, doc_id, CAST(score_micro AS DOUBLE) AS s
        |         FROM lexranked WHERE rnk <= 5),
        |lexn AS (SELECT qid, min(s) AS mn, max(s) AS mx FROM lexk GROUP BY qid),
        |lexc AS (SELECT k.qid, k.doc_id AS id,
        |  CAST(floor(1000000.0 * (CASE WHEN n.mx = n.mn THEN 1.0
        |    ELSE (k.s - n.mn) / (n.mx - n.mn) END) + 0.5) AS BIGINT) AS c
        |  FROM lexk k JOIN lexn n USING (qid)),
        |vq AS (SELECT vec_id, embedding FROM embeddings
        |       WHERE vec_id IN (SELECT qid FROM qids)),
        |vs AS (SELECT vq.vec_id AS qid, e.vec_id AS nid,
        |  list_inner_product(vq.embedding::DOUBLE[], e.embedding::DOUBLE[]) /
        |  (sqrt(list_inner_product(vq.embedding::DOUBLE[], vq.embedding::DOUBLE[])) *
        |   sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS c
        |  FROM vq JOIN embeddings e ON vq.vec_id <> e.vec_id),
        |vr AS (SELECT qid, nid, floor(c * 1000000 + 0.5) / 1000000 AS cos FROM vs),
        |vecranked AS (SELECT qid, nid, cos,
        |  CAST(row_number() OVER (PARTITION BY qid
        |    ORDER BY cos DESC, nid) AS INTEGER) AS rnk FROM vr),
        |veck AS (SELECT qid, nid, cos FROM vecranked WHERE rnk <= 5),
        |vecn AS (SELECT qid, min(cos) AS mn, max(cos) AS mx FROM veck GROUP BY qid),
        |vecc AS (SELECT k.qid, k.nid AS id,
        |  CAST(floor(1000000.0 * (CASE WHEN n.mx = n.mn THEN 1.0
        |    ELSE (k.cos - n.mn) / (n.mx - n.mn) END) + 0.5) AS BIGINT) AS c
        |  FROM veck k JOIN vecn n USING (qid)),
        |contrib AS (SELECT qid, id, c FROM lexc
        |  UNION ALL SELECT qid, id, c FROM vecc),
        |fused AS (SELECT qid, id, CAST(sum(c) AS BIGINT) AS fused_micro
        |          FROM contrib GROUP BY qid, id),
        |final AS (SELECT qid, id, fused_micro,
        |  CAST(row_number() OVER (PARTITION BY qid
        |    ORDER BY fused_micro DESC, id) AS INTEGER) AS rnk FROM fused)
        |SELECT qid, id, fused_micro, rnk FROM final
        |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  /** `textExpr`/`qtExtra`: the t44/t45 MaxScore gates index the corpus
    * with a guaranteed head term appended to EVERY document
    * (`text || ' zzhead'`, df = N) and add that term to every query —
    * the deterministic way to make the two-pass pruned plan (not its
    * exact fallback) be what answers the oracle at toy scale, where no
    * natural term's upper bound is small enough to verify. The oracle
    * replays the same transform. */
  private def bm25OracleSql(corpusWhere: String = "",
                            textExpr: String = "text",
                            qtExtra: String = ""): String = {
    val where = if (corpusWhere.isEmpty) "" else s" WHERE $corpusWhere"
    s"""WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower($textExpr), '\\s+'),
      |    x -> length(x) > 0)) AS term
      |  FROM documents$where),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
      |stats AS (SELECT count(*) AS n,
      |  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |qt AS (SELECT DISTINCT qid, term FROM (
      |  SELECT doc_id AS qid,
      |    unnest(list_slice(list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |      x -> length(x) > 0), 1, 3)) AS term
      |  FROM documents WHERE doc_id % 50 = 0$qtExtra)),
      |scored AS (
      |  SELECT qt.qid, tf.doc_id,
      |    CAST(sum(CAST(round(
      |      ln((CAST(stats.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
      |          / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
      |      * (CAST(tf.tf AS DOUBLE) * 2.2
      |          / (CAST(tf.tf AS DOUBLE)
      |             + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / stats.avgdl)))
      |      * 1000000.0) AS BIGINT)) AS BIGINT) AS score_micro
      |  FROM qt JOIN df USING (term) JOIN tf USING (term)
      |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
      |  GROUP BY qt.qid, tf.doc_id),
      |ranked AS (
      |  SELECT qid, doc_id, score_micro,
      |    CAST(row_number() OVER (PARTITION BY qid
      |      ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rnk
      |  FROM scored)
      |SELECT qid, doc_id, score_micro, rnk FROM ranked
      |WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin
  }

  /** Shared CTEs for t5: per-doc tokens + corpus token frequencies. */
  private val wordsSql2 =
    """WITH toks0 AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents),
      |toks AS (SELECT doc_id, word FROM toks0 WHERE length(word) > 0),
      |freq AS (SELECT word, count(*) AS freq FROM toks GROUP BY word)""".stripMargin

  private val stopwordsSqlList =
    TextOps.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  private def langListSql(lang: String): String =
    TextOps.langStopwords(lang).map(w => s"'$w'").mkString("[", ", ", "]")

  /** DuckDB replication of TextOps.langId: per-language stopword hits over
    * lowered tokens; argmax with earliest-language-wins tie-break (the
    * cascade of >= over the sorted language order de,en,es,fr); 0 hits →
    * 'und'. Columns es→esp to dodge keyword ambiguity.
    */
  private val t3Sql: String =
    s"""WITH t AS (SELECT doc_id,
       |  list_transform(list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0), x -> lower(x)) AS w
       |  FROM documents),
       |h AS (SELECT doc_id,
       |  len(list_filter(w, x -> list_contains(${langListSql("de")}, x))) AS de,
       |  len(list_filter(w, x -> list_contains(${langListSql("en")}, x))) AS en,
       |  len(list_filter(w, x -> list_contains(${langListSql("es")}, x))) AS esp,
       |  len(list_filter(w, x -> list_contains(${langListSql("fr")}, x))) AS fr
       |  FROM t)
       |SELECT doc_id, CASE WHEN greatest(de, en, esp, fr) = 0 THEN 'und'
       |  WHEN de >= en AND de >= esp AND de >= fr THEN 'de'
       |  WHEN en >= esp AND en >= fr THEN 'en'
       |  WHEN esp >= fr THEN 'es' ELSE 'fr' END AS pred_lang
       |FROM h ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "a1_wordcount" -> a1Sql,

    "a2_uniq" ->
      """SELECT p_type, CAST(count(DISTINCT p_brand) AS BIGINT) AS uniq_brands,
        |  CAST(least(count(DISTINCT p_brand), 10) AS BIGINT) AS capped_brands
        |FROM part GROUP BY p_type ORDER BY p_type""".stripMargin,

    "a3_histogram" ->
      """WITH c AS (SELECT c_mktsegment AS seg, c_nationkey AS v, count(*) AS cnt
        |  FROM customer GROUP BY 1, 2),
        |g AS (SELECT seg, count(*) AS nd, min(cnt) AS mn, max(cnt) AS mx,
        |  CAST(sum(cnt) AS BIGINT) AS s, CAST(sum(cnt*cnt) AS BIGINT) AS sq FROM c GROUP BY seg),
        |m AS (SELECT seg, cnt, row_number() OVER (PARTITION BY seg ORDER BY cnt) AS rn,
        |  count(*) OVER (PARTITION BY seg) AS n FROM c),
        |md AS (SELECT seg, max(CASE WHEN rn = n // 2 + 1 THEN cnt END) AS med FROM m GROUP BY seg)
        |SELECT g.seg AS seg, CAST(g.nd AS BIGINT) AS n_distinct, g.mn AS min_cnt,
        |  CAST(md.med AS BIGINT) AS med_cnt, g.mx AS max_cnt,
        |  CAST(g.s AS DOUBLE) / g.nd AS avg_cnt,
        |  sqrt(greatest((CAST(g.sq AS DOUBLE) - CAST(g.s AS DOUBLE) * CAST(g.s AS DOUBLE) / g.nd) / g.nd, 0)) AS std_cnt
        |FROM g JOIN md ON g.seg = md.seg ORDER BY seg""".stripMargin,

    "a5_approxuniq" ->
      """SELECT DISTINCT p_type FROM part ORDER BY p_type""".stripMargin,

    "a4_aggstats" ->
      """SELECT source, count(*) AS n_rec, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |  min(lang) AS min_lang, max(lang) AS max_lang
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "s1_wordmean" ->
      s"""$wordsSql
         |SELECT count(*) AS n_words, CAST(sum(length(word)) AS BIGINT) AS sum_len,
         |  CAST(sum(length(word)) AS DOUBLE) / count(*) AS mean_len FROM wf""".stripMargin,

    "s2_wordmedian" ->
      s"""$wordsSql,
         |h AS (SELECT length(word) AS len, count(*) AS cnt FROM wf GROUP BY 1),
         |c AS (SELECT len, sum(cnt) OVER (ORDER BY len) AS cum FROM h),
         |t AS (SELECT sum(cnt) AS n FROM h)
         |SELECT CAST(min(len) AS BIGINT) AS median_len FROM c, t WHERE cum >= n // 2 + 1""".stripMargin,

    "s3_wordstddev" ->
      s"""$wordsSql,
         |l AS (SELECT length(word) AS l FROM wf)
         |SELECT sqrt((CAST(sum(l*l) AS DOUBLE) - CAST(sum(l) AS DOUBLE) * CAST(sum(l) AS DOUBLE) / count(*)) / count(*)) AS std_len FROM l""".stripMargin,

    "g1_grep" ->
      s"""WITH m0 AS (SELECT unnest(regexp_extract_all(text, '$grepPattern')) AS m FROM documents)
         |SELECT m, count(*) AS cnt FROM m0 GROUP BY m ORDER BY cnt DESC, m""".stripMargin,

    "f1_fieldsel" ->
      """SELECT l_returnflag || chr(9) || CAST(l_orderkey AS VARCHAR) AS k,
        |  CAST(l_linenumber AS VARCHAR) || chr(9) || l_linestatus AS v
        |FROM lineitem ORDER BY k, v""".stripMargin,

    "f2_md5sample" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) < '1'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "f3_regexscan" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE regexp_matches(text, 'the [a-z]+') ORDER BY doc_id""".stripMargin,

    "o1_sort" ->
      """SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS ship
        |FROM lineitem ORDER BY ship, l_orderkey, l_linenumber""".stripMargin,

    "o2_secsort" ->
      """SELECT l_orderkey,
        |  string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_shipdate, l_linenumber) AS lines
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "o6_streamgroups" ->
      """SELECT l_orderkey,
        |  string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_shipdate, l_linenumber) AS lines
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "j1_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "j2_outer" ->
      """WITH oc AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1)
        |SELECT coalesce(c_custkey, o_custkey) AS custkey, c_mktsegment, n_orders
        |FROM customer FULL OUTER JOIN oc ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,

    "j3_override" ->
      """SELECT k, v FROM (
        |  SELECT s_nationkey AS k, s_name AS v FROM supplier
        |  UNION ALL
        |  SELECT n_nationkey AS k, n_name AS v FROM nation
        |  WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey)
        |) ORDER BY k, v""".stripMargin,

    "d1_pageview" ->
      """SELECT source AS url, count(*) AS pageview FROM documents
        |GROUP BY source ORDER BY url""".stripMargin,

    "u1_pipe" ->
      s"""$wordsSql
         |SELECT upper(word) AS word, count(*) AS cnt FROM wf
         |GROUP BY upper(word) ORDER BY word""".stripMargin,

    "m5_distsum" ->
      s"""SELECT CAST(50 AS INTEGER) AS digits, '$piDec' AS pi_prefix""",

    "m4_pentomino" ->
      """SELECT CAST(3 AS INTEGER) AS rows, CAST(20 AS INTEGER) AS cols,
        |  CAST(2 AS BIGINT) AS n_solutions""".stripMargin,

    "m3_sudoku" ->
      """SELECT CAST(1 AS BIGINT) AS n_solutions,
        |  '123456789456789123789123456234567891567891234891234567345678912678912345912345678' AS first_solution""".stripMargin,

    "m2_bbp" -> {
      val rows = piHex.zipWithIndex
        .map { case (c, i) => s"(${i + 1}, '$c')" }.mkString(", ")
      s"""SELECT CAST(pos AS BIGINT) AS pos, digit
         |FROM (VALUES $rows) t(pos, digit) ORDER BY pos""".stripMargin
    },

    "i1_kvtext" ->
      """SELECT l_returnflag AS flag, l_linestatus AS status, count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY flag, status""".stripMargin,

    "i2_fixedlen" ->
      """SELECT count(*) AS n_rec, CAST(sum(l_orderkey) AS BIGINT) AS sum_orderkey,
        |  CAST(sum(l_linenumber) AS BIGINT) AS sum_linenumber FROM lineitem""".stripMargin,

    "i3_seqfile" ->
      """SELECT p_type, count(*) AS n, min(p_partkey) AS min_key,
        |  max(p_partkey) AS max_key FROM part GROUP BY 1 ORDER BY p_type""".stripMargin,

    "i5_binseq" ->
      """SELECT l_returnflag AS flag, l_linestatus AS status, count(*) AS n,
        |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
        |  CAST(5 * count(*) AS BIGINT) AS sum_vlen
        |FROM lineitem GROUP BY 1, 2 ORDER BY flag, status""".stripMargin,

    "d2_datesplit" ->
      """SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |  count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,

    "o5_charsort" ->
      """SELECT CAST(o_orderkey AS VARCHAR) || chr(9) ||
        |  strftime(o_orderdate, '%Y-%m-%d') AS line
        |FROM orders
        |ORDER BY substr(strftime(o_orderdate, '%Y-%m-%d'), 6, 2) ASC NULLS FIRST,
        |  CAST(CAST(o_orderkey AS VARCHAR) AS DOUBLE) ASC NULLS FIRST, line""".stripMargin,

    "j7_range" ->
      """WITH w AS (SELECT event_id AS wid, ts AS ws, ts + INTERVAL 2 HOUR AS we
        |  FROM events WHERE event_id % 500 = 0)
        |SELECT wid, count(*) AS n FROM w JOIN events e
        |ON e.ts >= w.ws AND e.ts < w.we
        |GROUP BY wid ORDER BY wid""".stripMargin,

    "j6_asof" ->
      """WITH r AS (SELECT user_id, ts, max(value) AS rv FROM events GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 20 = 0)
        |SELECT p.event_id, p.user_id,
        |  strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS prior_ts, r.rv AS prior_val
        |FROM p ASOF LEFT JOIN r ON p.user_id = r.user_id AND r.ts < p.ts
        |ORDER BY event_id""".stripMargin,

    "j8_salted" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "j9_hotkeys" ->
      """SELECT l_returnflag AS key FROM lineitem GROUP BY 1
        |HAVING count(*) >= 0.2 * (SELECT count(*) FROM lineitem)
        |ORDER BY key""".stripMargin,

    "ar1_archive" ->
      """SELECT CAST(doc_id AS VARCHAR) || '.txt' AS path,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS size
        |FROM documents ORDER BY path""".stripMargin,

    "j5_bucketed" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "j4_cogroup" ->
      """WITH p AS (SELECT a.o_custkey AS k, count(*) AS n_pairs
        |  FROM orders a JOIN orders b
        |  ON a.o_custkey = b.o_custkey AND a.o_orderdate < b.o_orderdate
        |  GROUP BY 1),
        |n AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1)
        |SELECT c_custkey AS custkey, c_mktsegment AS seg,
        |  CAST(n.n_orders AS BIGINT) AS n_orders,
        |  CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs
        |FROM customer JOIN n ON c_custkey = n.o_custkey
        |LEFT JOIN p ON c_custkey = p.k
        |ORDER BY custkey""".stripMargin,

    "mf1_lookup" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE p_partkey IN (1, 101, 201, 301, 999999)
        |ORDER BY p_partkey""".stripMargin,

    "mf2_closest" ->
      """WITH sk AS (SELECT p_partkey AS k, p_name AS v FROM part WHERE p_partkey % 7 = 0),
        |p(probe) AS (VALUES (CAST(-5 AS BIGINT)), (7), (50), (699), (1000000000)),
        |b AS (SELECT probe, max(k) AS before_key, max_by(v, k) AS before_val
        |      FROM p LEFT JOIN sk ON k <= probe GROUP BY probe),
        |a AS (SELECT probe, min(k) AS after_key, min_by(v, k) AS after_val
        |      FROM p LEFT JOIN sk ON k >= probe GROUP BY probe)
        |SELECT probe, before_key, before_val, after_key, after_val
        |FROM b JOIN a USING (probe) ORDER BY probe""".stripMargin,

    "k1_partitioned" ->
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,

    "c1_safemap" ->
      """SELECT CAST(count(CASE WHEN l_linenumber % 7 <> 0 THEN 1 END) AS BIGINT) AS n_good,
        |  CAST(count(CASE WHEN l_linenumber % 7 = 0 THEN 1 END) AS BIGINT) AS n_bad,
        |  CAST(sum(CASE WHEN l_linenumber % 7 <> 0 THEN l_orderkey END) AS BIGINT) AS sum_parsed
        |FROM lineitem""".stripMargin,

    "o4_sortspec" ->
      """SELECT CAST(l_orderkey AS VARCHAR) || chr(9) ||
        |  CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS line
        |FROM lineitem
        |ORDER BY CAST(l_quantity AS BIGINT) DESC NULLS LAST,
        |  CAST(l_orderkey AS VARCHAR) ASC NULLS FIRST, line""".stripMargin,

    "u2_pipereduce" ->
      """SELECT l_returnflag AS flag, l_linestatus AS status,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY 1, 2 ORDER BY flag, status""".stripMargin,

    "mi1_multi" ->
      """SELECT src, n, n_keys FROM (
        |  SELECT 'lineitem' AS src, count(*) AS n,
        |    count(DISTINCT l_orderkey) AS n_keys FROM lineitem
        |  UNION ALL
        |  SELECT 'orders' AS src, count(*) AS n,
        |    count(DISTINCT o_orderkey) AS n_keys FROM orders
        |) ORDER BY src""".stripMargin,

    "p1_clean" ->
      """WITH winners AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |uniq AS (SELECT d.* FROM documents d JOIN winners USING (doc_id)),
        |toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS w FROM uniq),
        |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
        |  i -> array_to_string(w[i:i+2], ' '))) AS sh FROM toks),
        |sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
        |hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 5),
        |capped AS (SELECT * FROM sh WHERE sh NOT IN (SELECT sh FROM hot)),
        |sz AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
        |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (SELECT ida, idb, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |  FROM inter JOIN sz sa ON ida = sa.doc_id JOIN sz sb ON idb = sb.doc_id),
        |dropped AS (SELECT DISTINCT idb AS doc_id FROM j WHERE jaccard >= 0.8),
        |clean AS (SELECT u.doc_id, u.text FROM uniq u
        |  WHERE u.doc_id NOT IN (SELECT doc_id FROM dropped))
        |SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0)) AS BIGINT) AS n_tokens
        |FROM clean
        |WHERE len(list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0)) >= 5
        |ORDER BY doc_id""".stripMargin,

    "dd1_exact" ->
      """SELECT md5(text) AS digest, min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin,

    "dd2_minhash" ->
      """WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS w FROM documents),
        |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
        |  i -> array_to_string(w[i:i+2], ' '))) AS sh FROM toks),
        |sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (SELECT ida, idb, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |  FROM inter JOIN sz sa ON ida = sa.doc_id JOIN sz sb ON idb = sb.doc_id)
        |SELECT ida, idb FROM j WHERE jaccard >= 0.8 ORDER BY ida, idb""".stripMargin,

    "dd5_incdedup" -> minhashIncOracleSql,

    // append-built index ≡ whole-built index, so dd6 shares dd5's oracle
    "dd6_incappend" -> minhashIncOracleSql,

    // Sharded / post-split admission: the check must find exactly the
    // whole-built index's pairs (doc-disjoint shards partition the
    // same signature rows) — the dd5 recomputation verbatim.
    "dd12_shardedadmit" -> minhashIncOracleSql,
    "dd13_splitadmit" -> minhashIncOracleSql,
    "dd14_mergeadmit" -> minhashIncOracleSql,

    "dd3_simhash" ->
      """SELECT doc_id AS ida, doc_id + 1000000 AS idb, CAST(0 AS INTEGER) AS hamming
        |FROM documents ORDER BY ida, idb""".stripMargin,

    // dd9: the sharded union must recover the same planted pairs
    "dd9_simhash_sharded" ->
      """SELECT doc_id AS ida, doc_id + 1000000 AS idb, CAST(0 AS INTEGER) AS hamming
        |FROM documents ORDER BY ida, idb""".stripMargin,

    // dd10/dd11: identical resubmissions find their source with
    // certainty, so restricted to (source, source+1e6) pairs the
    // result is exactly the NON-DELETED sources — a deleted doc still
    // matching adds a row, a lookup defect drops one
    "dd10_tombstone" ->
      """SELECT doc_id AS corpus_id, doc_id + 1000000 AS batch_id
        |FROM documents WHERE doc_id % 10 = 0 AND doc_id % 20 <> 0
        |ORDER BY corpus_id""".stripMargin,

    "dd11_tombfold" ->
      """SELECT doc_id AS corpus_id, doc_id + 1000000 AS batch_id
        |FROM documents WHERE doc_id % 10 = 0 AND doc_id % 20 <> 0
        |ORDER BY corpus_id""".stripMargin,

    "dd4_ngram" ->
      """WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS w FROM documents),
        |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
        |  i -> array_to_string(w[i:i+2], ' '))) AS sh FROM toks),
        |sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
        |hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 5),
        |capped AS (SELECT * FROM sh WHERE sh NOT IN (SELECT sh FROM hot)),
        |sz AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
        |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (SELECT ida, idb, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |  FROM inter JOIN sz sa ON ida = sa.doc_id JOIN sz sb ON idb = sb.doc_id)
        |SELECT ida, idb, jaccard FROM j WHERE jaccard >= 0.8 ORDER BY ida, idb""".stripMargin,

    // dd7: recursive transitive closure over dd4's pair set — min
    // reachable label per node == the component's min id
    "dd7_components" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS w FROM documents),
        |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
        |  i -> array_to_string(w[i:i+2], ' '))) AS sh FROM toks),
        |sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
        |hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 5),
        |capped AS (SELECT * FROM sh WHERE sh NOT IN (SELECT sh FROM hot)),
        |sz AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
        |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (SELECT ida, idb, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |  FROM inter JOIN sz sa ON ida = sa.doc_id JOIN sz sb ON idb = sb.doc_id),
        |p AS (SELECT ida, idb FROM j WHERE jaccard >= 0.8),
        |edges AS (SELECT ida AS a, idb AS b FROM p UNION ALL SELECT idb AS a, ida AS b FROM p),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |reach(id, lab) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b)
        |SELECT id AS doc_id, min(lab) AS component FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    // dd8: the star-contraction path must agree with the same closure
    "dd8_components_star" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS w FROM documents),
        |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
        |  i -> array_to_string(w[i:i+2], ' '))) AS sh FROM toks),
        |sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
        |hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 5),
        |capped AS (SELECT * FROM sh WHERE sh NOT IN (SELECT sh FROM hot)),
        |sz AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
        |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (SELECT ida, idb, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |  FROM inter JOIN sz sa ON ida = sa.doc_id JOIN sz sb ON idb = sb.doc_id),
        |p AS (SELECT ida, idb FROM j WHERE jaccard >= 0.8),
        |edges AS (SELECT ida AS a, idb AS b FROM p UNION ALL SELECT idb AS a, ida AS b FROM p),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |reach(id, lab) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b)
        |SELECT id AS doc_id, min(lab) AS component FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    // p3: dd7's closure, losers dropped, p1's quality floor
    "p3_componentclean" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS w FROM documents),
        |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
        |  i -> array_to_string(w[i:i+2], ' '))) AS sh FROM toks),
        |sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
        |hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 5),
        |capped AS (SELECT * FROM sh WHERE sh NOT IN (SELECT sh FROM hot)),
        |sz AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
        |  FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (SELECT ida, idb, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |  FROM inter JOIN sz sa ON ida = sa.doc_id JOIN sz sb ON idb = sb.doc_id),
        |p AS (SELECT ida, idb FROM j WHERE jaccard >= 0.8),
        |edges AS (SELECT ida AS a, idb AS b FROM p UNION ALL SELECT idb AS a, ida AS b FROM p),
        |nodes AS (SELECT DISTINCT a AS id FROM edges),
        |reach(id, lab) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.id = e.b),
        |comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
        |kept AS (SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM toks t
        |  WHERE t.doc_id NOT IN (SELECT id FROM comp WHERE id <> component))
        |SELECT doc_id, n_tokens FROM kept WHERE n_tokens >= 5 ORDER BY doc_id""".stripMargin,

    "t1_tokens" ->
      """SELECT doc_id, CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0)) AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t2_quality" ->
      s"""WITH t AS (SELECT doc_id, text,
         |  list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0) AS w FROM documents)
         |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |  CASE WHEN len(w) > 0 THEN CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w) ELSE 0.0 END AS mean_tok_len,
         |  CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS punct_ratio,
         |  CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS upper_ratio,
         |  CASE WHEN len(w) > 0 THEN CAST(len(list_filter(w, x -> list_contains($stopwordsSqlList, lower(x)))) AS DOUBLE) / len(w) ELSE 0.0 END AS stopword_ratio
         |FROM t ORDER BY doc_id""".stripMargin,

    "t3_langid" -> t3Sql,

    "t6_chunks" ->
      """SELECT doc_id, CAST((st - 1) // 80 AS INTEGER) AS chunk_idx,
        |  substr(text, CAST(st AS INTEGER), 100) AS chunk
        |FROM (SELECT doc_id, text,
        |      unnest(range(1, greatest(length(text) - 20, 1) + 1, 80)) AS st
        |      FROM documents)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "t7_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        text || ' contact user' || doc_id || '@example.com from 10.0.0.' ||
        |          (doc_id % 256) || ' acct ' || (doc_id + 1234567),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{7,}\b', '<NUM>', 'g') AS red
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t8_dupngrams" ->
      """WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS w FROM documents)
        |SELECT doc_id, CAST(greatest(len(w) - 2, 0) AS BIGINT) AS n_3grams,
        |  CAST(len(list_distinct(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
        |    i -> array_to_string(w[i:i+2], ' ')))) AS BIGINT) AS n_distinct
        |FROM t ORDER BY doc_id""".stripMargin,

    "p2_rulefilter" -> {
      val sw = stopwordsSqlList
      s"""WITH t AS (SELECT doc_id, text,
         |  list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0) AS w FROM documents),
         |m AS (SELECT doc_id, len(w) AS n_tokens,
         |  CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w) AS mean_len,
         |  len(list_filter(w, x -> list_contains($sw, lower(x)))) AS n_stop,
         |  greatest(len(w) - 2, 0) AS n3,
         |  len(list_distinct(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
         |    i -> array_to_string(w[i:i+2], ' ')))) AS nd
         |  FROM t WHERE len(w) > 0)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens FROM m
         |WHERE n_tokens >= 10 AND n_tokens <= 2000
         |  AND mean_len >= 2.0 AND mean_len <= 12.0
         |  AND n_stop >= 1
         |  AND (n3 = 0 OR CAST(n3 - nd AS DOUBLE) / n3 < 0.3)
         |ORDER BY doc_id""".stripMargin
    },

    "t9_shardpack" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  CAST((sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens) // 1000 AS BIGINT) AS shard
        |FROM t ORDER BY doc_id""".stripMargin,

    "t10_mix" ->
      """SELECT doc_id, source FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |  CASE source WHEN 'src0' THEN '4000' WHEN 'src1' THEN '0000'
        |              WHEN 'src2' THEN 'zzzz' ELSE 'c000' END
        |ORDER BY doc_id""".stripMargin,

    "t11_decontam" ->
      """WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS w FROM documents),
        |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 7, 0) + 1),
        |  i -> array_to_string(w[i:i+7], ' '))) AS sh FROM toks),
        |sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
        |b AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0)
        |SELECT s.doc_id, count(*) AS n_hits FROM sh s JOIN b USING (sh)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "t12_cms" ->
      s"""$wordsSql
         |SELECT DISTINCT word FROM wf ORDER BY word""".stripMargin,

    "t13_stratified" ->
      """SELECT doc_id, source, rn FROM (
        |  SELECT doc_id, source, CAST(row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY source, rn""".stripMargin,

    "t14_quantiles" ->
      """SELECT CAST(unnest(range(1, 10)) AS INTEGER) AS decile ORDER BY decile""",

    "t15_bloom" ->
      """SELECT DISTINCT o_orderkey FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem)
        |ORDER BY o_orderkey""".stripMargin,

    "t16_bm25" -> bm25OracleSql(),

    "t17_bm25append" -> bm25OracleSql(),

    "t18_bm25delete" -> bm25OracleSql("doc_id % 5 <> 0"),

    "t19_bm25dfold" -> bm25OracleSql("doc_id % 5 <> 0"),

    // Phrase membership restated WITHOUT positions: a doc contains the
    // 3-token phrase iff ' '||phrase||' ' is a substring of the doc's
    // single-space-joined token list (exact consecutive-token
    // occurrence under the same tokenizer; position() does no wildcard
    // matching). Scoring is the t16 pipeline restricted to matches.
    "t20_bm25phrase" -> phraseOracleSql,

    // NEAR membership restated occurrence-anchored: all distinct query
    // terms lie in some 8-slot window iff they lie in the window
    // anchored at the cover's leftmost occurrence — so a doc matches
    // iff some query-term occurrence a has every query term occurring
    // in [a.pos, a.pos + 7]. Scoring is the t16 pipeline restricted to
    // matches, identical to t20's restriction.
    "t21_bm25near" -> nearOracleSql,

    // Sharded serving ≡ one whole-corpus index: the Spark side split
    // the corpus doc-disjoint (id parity) into two indexes and folded
    // (N, avgdl, df) across the shard dictionaries — the oracles are
    // t16's / t21's whole-corpus recomputations VERBATIM.
    "t32_shardedbm25" -> bm25OracleSql(),
    "t33_shardednear" -> nearOracleSql,
    "t34_shardedphrase" -> phraseOracleSql,

    // Hybrid RRF fusion: the t16 BM25 leg and the sim1 cosine leg
    // recomputed independently (queries = every 50th doc THAT HAS an
    // embedding — doc_id ≡ vec_id; at sf0.1 documents outnumber
    // embeddings so the restriction is load-bearing), each truncated to
    // its top-5, fused with integer-micro RRF contributions
    // floor(1e6/(60+rank)+0.5) — integer sums are order-independent,
    // matching Fusion.rrf bit-for-bit.
    "t22_hybrid" -> hybridRrfOracleSql,

    // IVFPQ-served twin of t22: exact at full probe + refine (see the
    // t27 scaladoc), so the oracle is the same recomputation
    "t27_hybridpq" -> hybridRrfOracleSql,

    // Linear-fusion twin of t22: same legs, per-(leg, qid) min-max
    // normalization over each leg's retrieved top-5 (max = min ⇒ 1.0),
    // weighted micro contributions floor(1e6·norm + 0.5) integer-summed.
    // The FP expression (s − mn)/(mx − mn) is op-for-op the Spark form.
    "t23_hybridlinear" -> hybridLinearOracleSql,

    // Bigram LM: counts from the EVEN docs, add-one smoothing with V =
    // distinct train tokens, per-bigram micro contributions
    // round(ln((c+1)/(ch+V))·1e6) integer-summed per scored doc —
    // op-for-op the Spark expression. Docs with <2 tokens => (0, 0).
    "t24_lmscore" -> lmEvenModelOracleSql,

    // Takedown ≡ train-without: the Spark side trained on ALL docs and
    // removed the odds (negative deltas, counted-vocab retirement, V
    // ledger), which must land EXACTLY on the even-trained model — the
    // t24 oracle verbatim.
    "t30_lmremove" -> lmEvenModelOracleSql,

    // Grown ≡ whole-built: the oracle trains on ALL docs in one pass;
    // the Spark side trained on evens and appended odds.
    "t25_lmappend" -> lmWholeModelOracleSql,

    // Shard-trained ≡ whole-trained: the Spark side trained two
    // independent parity-shard models and scored through the sharded
    // fold (additive counts, cross-shard V) — the t25 whole-trained
    // oracle VERBATIM.
    "t35_shardedlm" -> lmWholeModelOracleSql,

    // Both-legs-sharded hybrid ≡ whole-corpus hybrid: sharded BM25
    // (t32) and sharded brute force (sim12) are each exact, so the
    // fused ranking answers the t22 oracle VERBATIM.
    "t36_shardedhybrid" -> hybridRrfOracleSql,

    // Snippets: occurrences re-derived positionally (sliding list_slice
    // equality), start = min occurrence (0-based to match the Spark
    // offsets), scoring = t16 restricted to matches, snippet = tokens
    // [max(start-2,0), start+qlen+2) re-joined single-spaced.
    "t26_snippets" ->
      """WITH docs0 AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> length(x) > 0) AS toklist
        |  FROM documents),
        |toks AS (SELECT doc_id, unnest(toklist) AS term FROM docs0),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n,
        |  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |q AS (SELECT doc_id AS qid, list_slice(toklist, 1, 3) AS qtoks
        |      FROM docs0 WHERE doc_id % 50 = 0),
        |qe AS (SELECT qid, unnest(qtoks) AS term,
        |         CAST(generate_subscripts(qtoks, 1) AS BIGINT) AS off
        |       FROM q),
        |qt AS (SELECT DISTINCT qid, term FROM qe),
        |qn AS (SELECT qid, count(*) AS qlen FROM qe GROUP BY qid),
        |pos AS (SELECT doc_id, unnest(toklist) AS term,
        |          CAST(generate_subscripts(toklist, 1) AS BIGINT) AS pos
        |        FROM docs0),
        |hits AS (SELECT qe.qid, p.doc_id, p.pos - qe.off AS start0,
        |           count(DISTINCT qe.off) AS nh
        |         FROM qe JOIN pos p ON p.term = qe.term
        |         GROUP BY qe.qid, p.doc_id, start0),
        |fs AS (SELECT h.qid, h.doc_id, min(h.start0) AS start,
        |         any_value(qn.qlen) AS qlen
        |       FROM hits h JOIN qn ON qn.qid = h.qid
        |       WHERE h.nh = qn.qlen AND h.start0 >= 0
        |       GROUP BY h.qid, h.doc_id),
        |scored AS (
        |  SELECT qt.qid, tf.doc_id,
        |    CAST(sum(CAST(round(
        |      ln((CAST(stats.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
        |          / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(tf.tf AS DOUBLE) * 2.2
        |          / (CAST(tf.tf AS DOUBLE)
        |             + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / stats.avgdl)))
        |      * 1000000.0) AS BIGINT)) AS BIGINT) AS score_micro
        |  FROM qt JOIN df USING (term) JOIN tf USING (term)
        |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
        |       JOIN fs m ON m.qid = qt.qid AND m.doc_id = tf.doc_id
        |  GROUP BY qt.qid, tf.doc_id),
        |ranked AS (
        |  SELECT qid, doc_id, score_micro,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rnk
        |  FROM scored)
        |SELECT r.qid, r.doc_id, r.score_micro, r.rnk, fs.start,
        |  array_to_string(list_slice(d.toklist,
        |    CAST(greatest(fs.start - 2, 0) + 1 AS INTEGER),
        |    CAST(fs.start + fs.qlen + 2 AS INTEGER)), ' ') AS snippet
        |FROM ranked r
        |JOIN fs ON fs.qid = r.qid AND fs.doc_id = r.doc_id
        |JOIN docs0 d ON d.doc_id = r.doc_id
        |WHERE r.rnk <= 5 ORDER BY r.qid, r.rnk""".stripMargin,

    // NEAR snippets: covers re-derived occurrence-anchored (the t21
    // CTEs), start = min cover anchor − 1 (0-based, matching Spark's
    // posexplode offsets vs generate_subscripts' 1-based), scoring =
    // t16 restricted to matches, snippet = tokens
    // [max(start−2, 0), start+8−1+2] re-joined single-spaced.
    "t28_nearsnippets" ->
      """WITH docs0 AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> length(x) > 0) AS toklist
        |  FROM documents),
        |toks AS (SELECT doc_id, unnest(toklist) AS term FROM docs0),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n,
        |  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |pos AS (SELECT doc_id, unnest(toklist) AS term,
        |          CAST(generate_subscripts(toklist, 1) AS BIGINT) AS pos
        |        FROM docs0),
        |q AS (SELECT doc_id AS qid, list_slice(toklist, 1, 3) AS qtoks
        |      FROM docs0 WHERE doc_id % 50 = 0),
        |qt AS (SELECT DISTINCT qid, term FROM (
        |  SELECT qid, unnest(qtoks) AS term FROM q)),
        |qn AS (SELECT qid, count(*) AS nterms FROM qt GROUP BY qid),
        |qpos AS (SELECT qt.qid, p.doc_id, p.term, p.pos
        |         FROM qt JOIN pos p ON p.term = qt.term),
        |cov AS (
        |  SELECT a.qid, a.doc_id, a.pos,
        |    count(DISTINCT o.term) AS nh, any_value(qn.nterms) AS nt
        |  FROM qpos a
        |  JOIN qpos o ON o.qid = a.qid AND o.doc_id = a.doc_id
        |    AND o.pos BETWEEN a.pos AND a.pos + 7
        |  JOIN qn ON qn.qid = a.qid
        |  GROUP BY a.qid, a.doc_id, a.pos),
        |fs AS (SELECT qid, doc_id, CAST(min(pos) - 1 AS BIGINT) AS start
        |       FROM cov WHERE nh = nt GROUP BY qid, doc_id),
        |scored AS (
        |  SELECT qt.qid, tf.doc_id,
        |    CAST(sum(CAST(round(
        |      ln((CAST(stats.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
        |          / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(tf.tf AS DOUBLE) * 2.2
        |          / (CAST(tf.tf AS DOUBLE)
        |             + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / stats.avgdl)))
        |      * 1000000.0) AS BIGINT)) AS BIGINT) AS score_micro
        |  FROM qt JOIN df USING (term) JOIN tf USING (term)
        |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
        |       JOIN fs m ON m.qid = qt.qid AND m.doc_id = tf.doc_id
        |  GROUP BY qt.qid, tf.doc_id),
        |ranked AS (
        |  SELECT qid, doc_id, score_micro,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rnk
        |  FROM scored)
        |SELECT r.qid, r.doc_id, r.score_micro, r.rnk, fs.start,
        |  array_to_string(list_slice(d.toklist,
        |    CAST(greatest(fs.start - 2, 0) + 1 AS INTEGER),
        |    CAST(fs.start + 10 AS INTEGER)), ' ') AS snippet
        |FROM ranked r
        |JOIN fs ON fs.qid = r.qid AND fs.doc_id = r.doc_id
        |JOIN docs0 d ON d.doc_id = r.doc_id
        |WHERE r.rnk <= 5 ORDER BY r.qid, r.rnk""".stripMargin,

    // Bag-of-words snippets: per-term partials kept (the t16 scoring
    // expression per term), argmax (partial desc, term asc), first
    // occurrence via min(pos) − 1, snippet = tokens
    // [max(start−2, 0), start+2].
    "t29_bowsnippets" ->
      """WITH docs0 AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> length(x) > 0) AS toklist
        |  FROM documents),
        |toks AS (SELECT doc_id, unnest(toklist) AS term FROM docs0),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n,
        |  CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |q AS (SELECT doc_id AS qid, list_slice(toklist, 1, 3) AS qtoks
        |      FROM docs0 WHERE doc_id % 50 = 0),
        |qt AS (SELECT DISTINCT qid, term FROM (
        |  SELECT qid, unnest(qtoks) AS term FROM q)),
        |partials AS (
        |  SELECT qt.qid, tf.doc_id, qt.term,
        |    CAST(round(
        |      ln((CAST(stats.n AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
        |          / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(tf.tf AS DOUBLE) * 2.2
        |          / (CAST(tf.tf AS DOUBLE)
        |             + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / stats.avgdl)))
        |      * 1000000.0) AS BIGINT) AS partial
        |  FROM qt JOIN df USING (term) JOIN tf USING (term)
        |       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
        |scored AS (SELECT qid, doc_id, CAST(sum(partial) AS BIGINT) AS score_micro
        |           FROM partials GROUP BY qid, doc_id),
        |ranked AS (
        |  SELECT qid, doc_id, score_micro,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rnk
        |  FROM scored),
        |best AS (SELECT qid, doc_id, term FROM (
        |  SELECT qid, doc_id, term, row_number() OVER (
        |    PARTITION BY qid, doc_id ORDER BY partial DESC, term) AS rn
        |  FROM partials) WHERE rn = 1),
        |pos AS (SELECT doc_id, unnest(toklist) AS term,
        |          CAST(generate_subscripts(toklist, 1) AS BIGINT) AS pos
        |        FROM docs0),
        |fs AS (SELECT b.qid, b.doc_id, CAST(min(p.pos) - 1 AS BIGINT) AS start
        |       FROM best b JOIN pos p
        |         ON p.doc_id = b.doc_id AND p.term = b.term
        |       GROUP BY b.qid, b.doc_id)
        |SELECT r.qid, r.doc_id, r.score_micro, r.rnk, fs.start,
        |  array_to_string(list_slice(d.toklist,
        |    CAST(greatest(fs.start - 2, 0) + 1 AS INTEGER),
        |    CAST(fs.start + 3 AS INTEGER)), ' ') AS snippet
        |FROM ranked r
        |JOIN fs ON fs.qid = r.qid AND fs.doc_id = r.doc_id
        |JOIN docs0 d ON d.doc_id = r.doc_id
        |WHERE r.rnk <= 5 ORDER BY r.qid, r.rnk""".stripMargin,

    // Hybrid snippets: the t22 RRF fusion recomputed, then the t29
    // argmax/first-occurrence/slice attached to the fused top-5 via
    // LEFT joins — vector-only hits keep their rank with NULL
    // start/snippet (no lexical passage exists).
    "t31_hybridsnippets" -> hybridSnippetsOracleSql,

    // Sharded twin: both legs sharded + sharded passage extraction
    // against the global-stats argmax — the t31 oracle VERBATIM.
    "t37_shardedhybridsnip" -> hybridSnippetsOracleSql,

    // Sharded-IVF-leg hybrid: at probeFrac = 1.0 each IVF shard's
    // probe is its exact local top-k and the merge is exactly the
    // whole-corpus brute force (sim12's argument), so the fused
    // ranking is the t22 recomputation verbatim.
    "t38_shardedhybridivf" -> hybridRrfOracleSql,

    // Sharded linear fusion: exact sharded legs see the identical
    // retrieved top-5 lists, so the per-(leg, qid) normalization
    // extrema — and therefore the fused ranking — are the t23
    // recomputation verbatim.
    "t39_shardedhybridlinear" -> hybridLinearOracleSql,

    // Reshard: splitting a shard rehashes docs into children and
    // recomputes their derived tables; global-stats sharded serving is
    // placement-blind, so the post-split family must reproduce the
    // whole-corpus recomputation exactly — t32's / t35's oracles.
    "t40_splitbm25" -> bm25OracleSql(),
    "t41_splitlm" -> lmWholeModelOracleSql,

    // Merge (the shrink path): the folded single table must serve the
    // whole-corpus recomputation exactly — same oracles, run backwards.
    "t42_mergebm25" -> bm25OracleSql(),
    "t43_mergelm" -> lmWholeModelOracleSql,
    "t44_maxscore" -> bm25OracleSql(textExpr = "text || ' zzhead'",
      qtExtra = maxScoreQtExtra),
    "t45_shardedmaxscore" -> bm25OracleSql(textExpr = "text || ' zzhead'",
      qtExtra = maxScoreQtExtra),
    // Hybrid fusion with the MaxScore lexical leg (t44 protocol through
    // the fusion layer): the t22 RRF oracle over the zzhead corpus with
    // FULL BM25 on the lexical leg — the pruning must be invisible
    // through the fusion arithmetic, single-index and sharded alike.
    "t46_hybridmaxscore" -> hybridRrfOracleSqlWith(
      textExpr = "text || ' zzhead'",
      qtExtra = " UNION ALL SELECT qid, 'zzhead' AS term FROM qids"),
    "t47_shardedhybridmaxscore" -> hybridRrfOracleSqlWith(
      textExpr = "text || ' zzhead'",
      qtExtra = " UNION ALL SELECT qid, 'zzhead' AS term FROM qids"),
    // Composed grouped + pruned sharded lexical leg (round 18): same
    // whole-corpus RRF oracle — grouping, pruning, and the shard split
    // must all be invisible at once.
    "t48_groupedhybridmaxscore" -> hybridRrfOracleSqlWith(
      textExpr = "text || ' zzhead'",
      qtExtra = " UNION ALL SELECT qid, 'zzhead' AS term FROM qids"),
    // Block-max layout (round 19): build+append through the blk-sorted
    // index, the candidate set pushed into the scan, block-UB
    // refinement on — the t44 full-BM25 oracle must hash verbatim.
    "t49_blockmax" -> bm25OracleSql(textExpr = "text || ' zzhead'",
      qtExtra = maxScoreQtExtra),

    "f4_split" ->
      """SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t5_commonality" ->
      s"""$wordsSql2
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(f.freq) AS BIGINT) AS sum_tok_freq
         |FROM toks t JOIN freq f USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t4_fingerprint" ->
      """SELECT doc_id, substr(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), 1, 16) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "sim1_knn" -> knnOracleSql,

    // Sharded exact ANN ≡ whole-corpus brute force: the oracle is
    // sim1's recomputation VERBATIM — the t32/t34 sharded-serving
    // contract applied to the vector family.
    "sim12_shardedknn" -> knnOracleSql,
    // Vector reshard: post-split IVF family at full probe is exhaustive
    // per shard, so the merged ranking is the sim1 exact recomputation.
    "sim15_splitivf" -> knnOracleSql,
    "sim16_mergeivf" -> knnOracleSql,

    // Sharded IVF / IVFPQ recall: the sim3/sim9 contract (every qid
    // keeps >= 3/5 of the exact top-5; oracle = every qid appears).
    "sim13_shardedivf" ->
      """SELECT DISTINCT vec_id AS qid FROM embeddings
        |WHERE vec_id % 100 = 0 ORDER BY qid""".stripMargin,
    "sim14_shardedpq" ->
      """SELECT DISTINCT vec_id AS qid FROM embeddings
        |WHERE vec_id % 100 = 0 ORDER BY qid""".stripMargin,

    "sim2_lsh" ->
      """SELECT DISTINCT vec_id AS qid FROM embeddings
        |WHERE vec_id % 100 = 0 ORDER BY qid""".stripMargin,

    "sim3_ivf" ->
      """SELECT DISTINCT vec_id AS qid FROM embeddings
        |WHERE vec_id % 100 = 0 ORDER BY qid""".stripMargin,

    "sim4_neardup" ->
      """SELECT vec_id AS ida, vec_id + 1000000 AS idb, 1.0 AS cos
        |FROM embeddings ORDER BY ida, idb""".stripMargin,

    "sim5_ivfindex" ->
      """SELECT DISTINCT vec_id AS qid FROM embeddings
        |WHERE vec_id % 100 = 0 ORDER BY qid""".stripMargin,

    "sim6_ivf2level" ->
      """SELECT DISTINCT vec_id AS qid FROM embeddings
        |WHERE vec_id % 100 = 0 ORDER BY qid""".stripMargin,

    "sim8_lshindex" ->
      """SELECT vec_id + 1000000 AS batch_id, vec_id AS corpus_id, 1.0 AS cos
        |FROM embeddings ORDER BY batch_id""".stripMargin,

    "sim9_ivfpq" ->
      """SELECT DISTINCT vec_id AS qid FROM embeddings
        |WHERE vec_id % 100 = 0 ORDER BY qid""".stripMargin,

    // OPQ-rotated IVFPQ: sim9's contract through the rotated quantizer
    // (every qid keeps >= 3/5 of the exact top-5 at tight refineK —
    // the mechanism-honest dial; see the gate's scaladoc).
    "sim17_opq" ->
      """SELECT DISTINCT vec_id AS qid FROM embeddings
        |WHERE vec_id % 100 = 0 ORDER BY qid""".stripMargin,

    "sim10_pqappend" ->
      """SELECT DISTINCT vec_id AS qid FROM embeddings
        |WHERE vec_id % 100 = 0 ORDER BY qid""".stripMargin,

    "sim11_pq2level" ->
      """SELECT DISTINCT vec_id AS qid FROM embeddings
        |WHERE vec_id % 100 = 0 ORDER BY qid""".stripMargin,

    "sim7_ivfappend" ->
      """SELECT DISTINCT vec_id AS qid FROM embeddings
        |WHERE vec_id % 100 = 0 ORDER BY qid""".stripMargin,

    "mm1_decode" ->
      """SELECT doc_id AS id, 'image' AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY id""".stripMargin,

    "mm2_image" ->
      """SELECT doc_id AS id, CAST(1 + doc_id % 31 AS INTEGER) AS width,
        |  CAST(1 + doc_id % 17 AS INTEGER) AS height,
        |  CAST((doc_id % 256) * 65536 + (doc_id * 7 % 256) * 256
        |    + doc_id * 13 % 256 AS BIGINT) AS px00
        |FROM documents ORDER BY id""".stripMargin,

    "mm4_audio" ->
      """SELECT doc_id AS id,
        |  CAST(8000 + doc_id % 8 * 1000 AS INTEGER) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |  CAST(1 + doc_id % 50 AS BIGINT) AS frames,
        |  CAST(doc_id * 37 % 4001 - 2000 AS INTEGER) AS first_sample
        |FROM documents ORDER BY id""".stripMargin,

    "mm3_frames" ->
      """SELECT doc_id AS id, CAST(f AS INTEGER) AS frame_index,
        |  CAST(doc_id % 5 + 1 AS INTEGER) AS width,
        |  CAST(doc_id % 3 + 1 AS INTEGER) AS height,
        |  CAST(((doc_id * 31 + f * 17) % 256) * 65536
        |     + ((doc_id * 7 + f * 29) % 256) * 256
        |     + ((doc_id * 13 + f * 37) % 256) AS BIGINT) AS px00
        |FROM (SELECT doc_id, unnest(range(0, 1 + doc_id % 4)) AS f
        |      FROM documents)
        |ORDER BY id, frame_index""".stripMargin,

    "w1_tumbling" ->
      """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS ws,
        |  event_type, count(*) AS n, floor(sum(value) * 100 + 0.5) / 100 AS sum_val
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,

    "i4_xml" ->
      """SELECT doc_id, substr(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), 1, 16) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "w3_sliding" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS ws, event_type, count(*) AS n
        |FROM (SELECT event_type,
        |  time_bucket(INTERVAL 30 MINUTE, ts) - o * INTERVAL 30 MINUTE AS ws
        |  FROM events CROSS JOIN (VALUES (0), (1)) t(o))
        |GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,

    "w4_statefulsessions" -> w2SessionsSql,

    "w5_intervaljoin" ->
      """WITH p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
        |  FROM events WHERE event_id % 100 = 0)
        |SELECT p_id, count(*) AS n FROM p JOIN events e
        |ON e.user_id = p.p_user
        |  AND e.ts >= p.p_ts - INTERVAL 10 MINUTE AND e.ts <= p.p_ts
        |GROUP BY 1 ORDER BY p_id""".stripMargin,

    "w2_sessions" -> w2SessionsSql)

  /** Window-free SQL sessionization — the shared oracle for both the
    * session_window query (w2) and the flatMapGroupsWithState one (w4).
    */
  private lazy val w2SessionsSql: String =
    """WITH e AS (SELECT user_id, ts, value,
      |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
      |  THEN 1 ELSE 0 END AS brk FROM events),
      |s AS (SELECT user_id, ts, value,
      |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM e)
      |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
      |  count(*) AS n_events, floor(sum(value) * 100 + 0.5) / 100 AS sum_val
      |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin
}
