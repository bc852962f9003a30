package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions._

/** `Hll.approxCountDistinct` gives Spark's `approx_count_distinct`
  * estimate exactly, whatever the partitioning and input order. */
class HllSpec extends SparkSpec {
  import spark.implicits._

  // groups A, R and a NULL group over keys that repeat up to 4 times,
  // with NULL keys mixed in; group N holds only NULL keys
  private lazy val rows: DataFrame = ((0 until 24000).map { i =>
    val g = Seq("A", "R", null)(i % 3)
    val k: Option[Long] = if (i % 17 == 0) None else Some((i / 4).toLong * 7919L)
    (g, k)
  } ++ Seq(("N", None: Option[Long]), ("N", None: Option[Long]))).toDF("g", "k")

  private def layouts: Seq[(String, DataFrame)] = Seq(
    "1 partition" -> rows.coalesce(1),
    "4 partitions" -> rows.repartition(4),
    "7 partitions" -> rows.repartition(7),
    "reversed" -> rows.orderBy(col("k").desc_nulls_first).coalesce(1))

  private def perGroup(df: DataFrame, est: Column): Seq[String] =
    df.groupBy(col("g")).agg(est.as("n")).collect().map(_.toString).sorted.toSeq

  for (rsd <- Seq(0.02, 0.05)) test(s"equals approx_count_distinct at rsd $rsd") {
    val expected = perGroup(rows, approx_count_distinct(col("k"), rsd))
    assert(expected.size == 4 && expected.contains("[N,0]"), expected)
    for ((layout, df) <- layouts)
      assert(perGroup(df, Hll.approxCountDistinct(col("k"), rsd)) == expected, layout)
  }

  test("an empty input estimates 0, as approx_count_distinct does") {
    val empty = rows.filter(lit(false))
    assert(empty.agg(Hll.approxCountDistinct(col("k"), 0.05)).head().getLong(0) == 0L)
    assert(empty.agg(approx_count_distinct(col("k"), 0.05)).head().getLong(0) == 0L)
  }

  test("refuses non-bigint input at analysis instead of casting it") {
    val typed = Seq((1, "a", 1.0)).toDF("i", "s", "d")
    for (c <- Seq("i", "s", "d")) {
      val e = intercept[AnalysisException](typed.agg(Hll.approxCountDistinct(col(c), 0.05)))
      assert(e.getMessage.contains("hll_input"), e.getMessage)
    }
  }
}
