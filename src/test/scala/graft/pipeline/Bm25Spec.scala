package graft.pipeline

import graft.SparkSpec

/** The BM25 facade must be bit-identical to the oracle-pinned
  * registry query.
  */
class Bm25Spec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString)

  test("bm25TopK is exactly the registry q177 result") {
    val registry = graft.Registry.all.find(_.name == "q177_bm25_topk").get
      .fn(spark, sf)
    assert(rows(TextAnalysis.bm25TopK(spark, sf))
      .sameElements(rows(registry)))
  }
}
