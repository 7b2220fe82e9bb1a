package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{AnalysisException, SparkSession}

/** `bottom_k_distinct(expr, k)`: its arity contract fails analysis with a
  * message naming the signature. */
class BottomKDistinctSpec extends AnyFunSuite {

  test("a call with other than two arguments is an AnalysisException naming the signature") {
    val spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.ui.enabled", "false")
      .appName("bottom-k-distinct-spec")
      .getOrCreate()
    try {
      BottomKDistinct.register(spark)
      for (args <- Seq("", "id", "id, 2, 3")) {
        val e = intercept[AnalysisException] {
          spark.sql(s"SELECT bottom_k_distinct($args) FROM range(3)").collect()
        }
        assert(e.getMessage.contains("bottom_k_distinct(expr, k)"), e.getMessage)
      }
      val ok = spark.sql("SELECT bottom_k_distinct(id % 4, 2) FROM range(10)").head()
      assert(ok.getSeq[Long](0) == Seq(0L, 1L))
    } finally spark.stop()
  }
}
