package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextOps}

/** One-off slice profiler for dd4 internals. */
object DevProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val docs = Tables.documents(spark, sfDir)

    def time(name: String)(body: => Long): Unit = {
      val t0 = System.nanoTime(); val r = body
      println(f"[prof] $name: $r in ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }

    time("warmup count")(docs.count())
    time("tokens explode")(docs.select(explode(TextOps.tokens(col("text")))).count())
    val sh = docs.select(col("doc_id").as("id"),
      explode(Dedup.shingles(col("text"), 3)).as("sh"))
    time("shingle explode")(sh.count())
    time("shingle explode again")(sh.count())
    val lists = sh.groupBy("sh")
      .agg(graft.functions.GraftFunctions.cappedIds(col("id"), 5).as("ids"))
    time("capped posting lists")(lists.count())
    val pairs = lists.select(graft.functions.GraftFunctions.idPairs(col("ids")))
    time("pair rows")(pairs.count())
    time("pair counts")(pairs.groupBy("ida", "idb").count().count())
    time("full dd4")(Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      3, 0.8, 5).count())
    time("full dd4 again")(Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      3, 0.8, 5).count())
    spark.stop()
  }
}
