package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** The pushdown helpers change no session conf: the parquet
  * IN-pushdown threshold is raised once by each serving entry on its
  * caller thread, so helpers running on [[Retrieval.fanOut]] worker
  * threads never write the session. */
class InFilterConfSpec extends AnyFunSuite {
  import SharedSpark.spark

  test("prunedByValues and prunedByDocs leave the IN-pushdown threshold " +
       "unset") {
    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    // `getAll` lists explicitly set keys only (`getOption` would report
    // the registered default of an unset key)
    def explicit = spark.conf.getAll.get(key)
    val prev = explicit
    spark.conf.unset(key)
    try {
      val df = spark.range(100).toDF("doc_id")
        .selectExpr("doc_id", "cast(doc_id as string) as term")
      Retrieval.prunedByValues(df, "term", Seq("1", "2", "3"))
      Retrieval.prunedByDocs(df, Seq[Any](1L, 2L, 3L), 100L)
      assert(explicit.isEmpty, s"a pushdown helper set $key")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
