package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import graft.{SharedSpark, TestProps}

/** The passage pass pushes the ranked ids into the positional scan on
  * every family size, the one-index family included: a contiguous run
  * of more than [[Retrieval.maxInPushValues]] ranked ids reaches the
  * `_pos` scan as a `doc_id` range when the range covers at most half
  * the family's corpus — a cost choice that must not change the rows.
  */
class PassagePushSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SharedSpark.spark
  import spark.implicits._

  test("S = 1 passage pass pushes a contiguous ranked-id run into the " +
       "_pos scan as a range, with the rows of the unpushed plan") {
    val t = s"passage_push_${System.nanoTime()}"
    val docs = (0L until 2000L).map(i => (i, s"w${i % 7} alpha pad beta"))
      .toDF("doc_id", "text")
    Retrieval.bm25Build(docs, "doc_id", "text", t, buckets = 2,
      positions = true)
    val q = Seq((1L, "alpha beta")).toDF("qid", "qtext")
    val lex = Retrieval.bm25Family(spark, Seq(t), q, "qid", "qtext", 10)
    // 300 contiguous ids: past the 256-value IN list, one range of
    // width 300 ≤ N/2
    val ranked = (1000L until 1300L).map((1L, _)).toDF("qid", "doc_id")
    def attach(): DataFrame = Retrieval.attachBestTermSnippets(spark,
      "PassagePushSpec", Seq(t), lex, ranked, docs, "doc_id", "text", 1,
      1.2, 0.75, 1.0)
    def posFilters(df: DataFrame): Seq[String] =
      collect(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec
            if s.tableIdentifier.exists(_.table == s"${t}_pos") =>
          s.metadata("PushedFilters")
      }
    val range = Seq("GreaterThanOrEqual(doc_id,1000)",
      "LessThanOrEqual(doc_id,1299)")
    val pushed = attach()
    val got = pushed.orderBy("doc_id").collect().toSeq
    val fs = posFilters(pushed)
    assert(fs.nonEmpty && fs.forall(f => range.forall(f.contains)),
      s"_pos scan lacks the doc_id range: $fs")
    // a ranked-frame literal cap of 8 × 32 = 256 < 300 rows keeps the
    // ranked frame lazy, which the id push cannot reach
    val (plain, want) = TestProps.withControlCap(32) {
      val df = attach()
      (posFilters(df), df.orderBy("doc_id").collect().toSeq)
    }
    assert(plain.nonEmpty && plain.forall(f => !range.exists(f.contains)),
      s"the reference plan pushed the range too: $plain")
    assert(got.size == 300 && got.forall(!_.isNullAt(3)) && got === want)
  }
}
