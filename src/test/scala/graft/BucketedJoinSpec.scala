package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.BucketedJoin

/** Bucketed co-located join — CompositeInputFormat's pre-partitioned
  * sorted-merge precondition as table bucketing.
  */
class BucketedJoinSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  test("same-bucketed tables join without a shuffle; result matches plain join") {
    val a = spark.range(0, 10000).select(col("id").as("k"),
      (col("id") % 97).as("va"))
    val b = spark.range(0, 10000, 2).select(col("id").as("k"),
      (col("id") % 31).as("vb"))
    BucketedJoin.writeBucketed(a, "bj_left", "k", 8)
    BucketedJoin.writeBucketed(b, "bj_right", "k", 8)
    val joined = BucketedJoin.join(spark, "bj_left", "bj_right", "k")
    assert(!BucketedJoin.hasJoinShuffle(joined),
      "bucketed join must not re-shuffle")
    val got = joined.agg(count(lit(1)), sum(col("va") + col("vb")))
      .as[(Long, Long)].head()
    val expected = a.join(b, "k").agg(count(lit(1)), sum(col("va") + col("vb")))
      .as[(Long, Long)].head()
    assert(got == expected)
    assert(got._1 == 5000)
  }

  test("appendBucketed grows the table at O(batch) and keeps the join exchange-free") {
    val a = spark.range(0, 6000).select(col("id").as("k"), (col("id") % 97).as("va"))
    val a2 = spark.range(6000, 10000).select(col("id").as("k"), (col("id") % 97).as("va"))
    val b = spark.range(0, 10000, 2).select(col("id").as("k"), (col("id") % 31).as("vb"))
    BucketedJoin.writeBucketed(a, "bja_left", "k", 8)
    BucketedJoin.appendBucketed(a2, "bja_left", "k")
    BucketedJoin.writeBucketed(b, "bja_right", "k", 8)
    val joined = BucketedJoin.join(spark, "bja_left", "bja_right", "k")
    assert(!BucketedJoin.hasJoinShuffle(joined),
      "append must preserve the bucketed layout — no join-time exchange")
    val got = joined.agg(count(lit(1)), sum(col("va") + col("vb")))
      .as[(Long, Long)].head()
    val expected = a.unionByName(a2).join(b, "k")
      .agg(count(lit(1)), sum(col("va") + col("vb"))).as[(Long, Long)].head()
    assert(got == expected)
    assert(got._1 == 5000)
  }

  test("appendBucketed re-buckets by the table's own spec, not the caller's guess") {
    val a = spark.range(0, 1000).select(col("id").as("k"), col("id").as("v"))
    BucketedJoin.writeBucketed(a, "bjs_spec", "k", 4)
    // defaultBuckets=8 would mis-bucket if the spec weren't read back
    BucketedJoin.appendBucketed(
      spark.range(1000, 2000).select(col("id").as("k"), col("id").as("v")),
      "bjs_spec", "k", defaultBuckets = 8)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("bjs_spec"))
    assert(meta.bucketSpec.map(_.numBuckets).contains(4))
    assert(spark.table("bjs_spec").count() == 2000)
  }

  test("appendBucketed lands at most one file per bucket per append, whatever the input partitioning") {
    val t = "bjo_tbl"
    BucketedJoin.writeBucketed(spark.range(0, 1000)
      .select(col("id").as("k"), col("id").as("v")), t, "k", 4)
    // a bucketed scan of another key layout (8 buckets, pre-clustered
    // on k), a 7-way round-robin frame, and a single partition
    BucketedJoin.writeBucketed(spark.range(1000, 3000)
      .select(col("id").as("k"), col("id").as("v")), "bjo_src", "k", 8)
    val inputs = Seq(spark.table("bjo_src"),
      spark.range(3000, 5000).select(col("id").as("k"), col("id").as("v"))
        .repartition(7),
      spark.range(5000, 5100).select(col("id").as("k"), col("id").as("v"))
        .coalesce(1))
    def files(): Set[String] = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).location.getPath
      new java.io.File(loc).listFiles().toSeq.map(_.getName)
        .filter(_.endsWith(".parquet")).toSet
    }
    for (in <- inputs) {
      val before = files()
      BucketedJoin.appendBucketed(in, t, "k")
      val ids = (files() -- before).toSeq.map(f => org.apache.spark.sql
        .execution.datasources.BucketingUtils.getBucketId(f))
      assert(ids.nonEmpty && ids.forall(_.isDefined) &&
        ids.distinct.size == ids.size && ids.size <= 4,
        s"one append landed more than one file in a bucket: $ids")
    }
    assert(spark.table(t).count() == 5100)
    val joined = spark.table(t)
      .join(spark.table(t).select(col("k"), col("v").as("v2")), "k")
    assert(!BucketedJoin.hasJoinShuffle(joined),
      "appended table must still be bucketed")
  }

  test("compactBucketed folds append files to one per bucket, content intact") {
    val a = spark.range(0, 2000).select(col("id").as("k"), (col("id") * 3).as("v"))
    BucketedJoin.writeBucketed(a, "bjc_tbl", "k", 4)
    for (i <- 0 until 3)
      BucketedJoin.appendBucketed(
        spark.range(2000 + i * 500, 2000 + (i + 1) * 500)
          .select(col("id").as("k"), (col("id") * 3).as("v")),
        "bjc_tbl", "k")
    def dataFiles(): Seq[java.io.File] = {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("bjc_tbl")).location.getPath
      new java.io.File(loc).listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
    }
    val before = dataFiles().size
    assert(before > 4, s"appends should accumulate per-append files, saw $before")
    val sumBefore = spark.table("bjc_tbl").agg(sum("v")).as[Long].head()
    BucketedJoin.compactBucketed(spark, "bjc_tbl", "k")
    val bucketIds = dataFiles().map(f => org.apache.spark.sql.execution
      .datasources.BucketingUtils.getBucketId(f.getName))
    assert(bucketIds.forall(_.isDefined) && bucketIds.distinct.size == bucketIds.size &&
      bucketIds.size <= 4, s"compaction must leave at most one file per bucket: $bucketIds")
    // a second compaction of a compact table fires no job and keeps the files
    val names = dataFiles().map(_.getName).sorted
    // job starts by group; a sentinel job posted after the call is seen
    // only after every earlier job start (the bus delivers in order)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("bjc-compact", "second compaction")
      BucketedJoin.compactBucketed(spark, "bjc_tbl", "k")
      sc.setJobGroup("bjc-sentinel", "sentinel")
      sc.parallelize(1 to 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains("bjc-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains("bjc-sentinel"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val jobs = seen.toArray.count(_ == "bjc-compact")
    assert(jobs == 0, s"compacting a compact table fired $jobs jobs")
    assert(dataFiles().map(_.getName).sorted == names)
    assert(spark.table("bjc_tbl").agg(sum("v")).as[Long].head() == sumBefore)
    assert(spark.table("bjc_tbl").count() == 3500)
    val joinedAfter = spark.table("bjc_tbl")
      .join(spark.table("bjc_tbl").select(col("k"), col("v").as("v2")), "k")
    assert(!BucketedJoin.hasJoinShuffle(joinedAfter),
      "compacted table must still be bucketed")
  }

  test("compact swap survives a kill at every step — rows never lost") {
    // replay compactBucketed's step sequence by hand, stopping after
    // each one, and show recoverCompacted restores a readable table
    // with the full row set every time
    val t = "bjk_tbl"
    val expected = spark.range(0, 1000).select(col("id").as("k"),
      (col("id") * 7).as("v"))
    def rebuild(): Unit = {
      for (s <- Seq(t, s"${t}_compacting", s"${t}_old"))
        BucketedJoin.dropWithLocation(spark, s)
      BucketedJoin.writeBucketed(expected, t, "k", 4)
    }
    def check(label: String): Unit = {
      BucketedJoin.recoverCompacted(spark, t)
      assert(spark.table(t).count() == 1000, s"rows lost after kill $label")
      assert(spark.table(t).agg(sum("v")).as[Long].head() == 999L * 1000 * 7 / 2,
        s"content wrong after kill $label")
      val cat = spark.sessionState.catalog
      for (s <- Seq(s"${t}_compacting", s"${t}_old"))
        assert(!cat.tableExists(org.apache.spark.sql.catalyst.TableIdentifier(s)),
          s"stale side table $s left after recovery from kill $label")
    }
    // kill after stage write, before rename-aside
    rebuild()
    BucketedJoin.writeBucketed(spark.table(t), s"${t}_compacting", "k", 4)
    check("after-stage")
    // kill between the two renames (table absent, both sides present)
    rebuild()
    BucketedJoin.writeBucketed(spark.table(t), s"${t}_compacting", "k", 4)
    spark.sql(s"ALTER TABLE $t RENAME TO ${t}_old")
    check("between-renames")
    // kill before the final drop (new table in place, old still around)
    rebuild()
    BucketedJoin.writeBucketed(spark.table(t), s"${t}_compacting", "k", 4)
    spark.sql(s"ALTER TABLE $t RENAME TO ${t}_old")
    spark.sql(s"ALTER TABLE ${t}_compacting RENAME TO $t")
    check("before-drop")
    // and a full compact still works after all that
    BucketedJoin.compactBucketed(spark, t, "k")
    assert(spark.table(t).count() == 1000)
  }

  test("union of co-bucketed tables folds groups ACROSS tables " +
      "(Spark 4.1 unionOutputPartitioning guard)") {
    // Regression pin for a measured Spark 4.1 wrong-results trap: with
    // spark.sql.unionOutputPartitioning=true (the release default),
    // UnionExec claims its co-partitioned children's hash partitioning
    // while concatenating their partitions, EnsureRequirements elides
    // the exchange under an aggregate on the bucket key, and each
    // group comes back ONCE PER TABLE. ensureRegistered disables the
    // propagation; this spec fails if the guard is dropped or a Spark
    // upgrade re-breaks the fold.
    graft.functions.GraftFunctions.ensureRegistered(spark)
    assert(spark.conf.get("spark.sql.unionOutputPartitioning") === "false")
    val n = System.nanoTime()
    val (ta, tb) = (s"ubg_a_$n", s"ubg_b_$n")
    val rows = (0 until 40).map(i => (s"k${i % 10}", 1L)).toDF("k", "c")
    BucketedJoin.writeBucketed(rows, ta, "k", 4)
    BucketedJoin.writeBucketed(rows, tb, "k", 4)
    val folded = Seq(ta, tb).map(spark.table(_).select("k", "c"))
      .reduce(_.unionByName(_))
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("c").as("c"))
    assert(folded.count() === 10L,
      "co-bucketed union fold split groups per table — the Spark 4.1 " +
        "unionOutputPartitioning trap is back")
    assert(folded.as[(String, Long)].collect().forall(_._2 === 8L))
  }
}
