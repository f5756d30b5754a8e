package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Retrieval

/** `bm25Append`'s write wave: the postings, `_terms`, `_stats` and
  * `_pos` deltas land concurrently, so a crash can leave any subset of
  * them landed. Every such state must heal under `repair = true` to the
  * rows an index built whole would serve.
  */
class AppendWaveSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def docs(from: Int, until: Int) = (from until until).map { i =>
    val words = (0 until 8).map(j => s"w${(i * 7 + j * 3) % 40}")
    (i.toLong, words.mkString(" "))
  }.toDF("doc_id", "text")

  private val queries = docs(0, 60).filter(col("doc_id") % 9 === 1)
    .select(col("doc_id").as("qid"),
      concat_ws(" ", slice(split(col("text"), " "), 2, 3)).as("qtext"))

  private def served(t: String) = (
    Retrieval.bm25Query(spark, t, queries, "qid", "qtext", 5)
      .as[(Long, Long, Long, Int)].collect().toSet,
    Retrieval.bm25PhraseQuery(spark, t, queries, "qid", "qtext", 5)
      .as[(Long, Long, Long, Int)].collect().toSet)

  test("every partial landing of the append wave repairs to whole-built rows") {
    Retrieval.bm25Build(docs(0, 60), "doc_id", "text", "aw_oracle",
      positions = true)
    val ref = served("aw_oracle")
    assert(ref._1.nonEmpty && ref._2.nonEmpty)
    val parts = Seq("", "_terms", "_stats", "_pos")
    val subsets = (1 until parts.size).flatMap(parts.combinations)
    assert(subsets.size == 14)
    for ((landed, i) <- subsets.zipWithIndex) {
      val t = s"aw_idx_$i"
      Retrieval.bm25Build(docs(0, 50), "doc_id", "text", t, positions = true)
      Retrieval.bm25AppendImpl(spark, t, docs(50, 60), "doc_id", "text",
        repair = false, lands = landed.contains)
      Retrieval.bm25Append(spark, t, docs(50, 60), "doc_id", "text",
        repair = true)
      assert(served(t) == ref,
        s"landed {${landed.map(s => if (s.isEmpty) "postings" else s)
          .mkString(", ")}}: repair diverges from the whole build")
    }
  }

  test("a whole append serves like the whole build, positional and block-max") {
    Retrieval.bm25Build(docs(0, 60), "doc_id", "text", "aw_bx_oracle",
      positions = true, blockMax = true, blockWidth = 8)
    Retrieval.bm25Build(docs(0, 50), "doc_id", "text", "aw_bx",
      positions = true, blockMax = true, blockWidth = 8)
    Retrieval.bm25Append(spark, "aw_bx", docs(50, 60), "doc_id", "text")
    assert(served("aw_bx") == served("aw_bx_oracle"))
    def bounds(t: String) = spark.table(s"${t}_blkmax")
      .groupBy("term", "blk").agg(max("max_tf"), min("min_dl"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(bounds("aw_bx") == bounds("aw_bx_oracle"))
  }
}
