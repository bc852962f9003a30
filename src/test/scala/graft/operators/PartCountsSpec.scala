package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q120's dedup-first aggregate equals the one-aggregate form it
  * replaced, count(DISTINCT) and the HLL++ sketch value alike. */
class PartCountsSpec extends SparkSpec {
  import spark.implicits._

  test("dedup-first part counts equal countDistinct + approx_count_distinct") {
    // 3 flags and a NULL flag; keys repeat up to 4 times; NULL keys,
    // and one flag ('N') whose keys are all NULL
    val rows = (0 until 20000).map { i =>
      val flag = Seq("A", "R", "F", null)(i % 4)
      val key: Option[Long] = if (i % 13 == 0) None else Some((i / 4 % 3000).toLong * 7)
      (flag, key)
    } ++ Seq(("N", None: Option[Long]), ("N", None: Option[Long]))
    val lineitem = rows.toDF("l_returnflag", "l_partkey").repartition(4)
    def collected(df: org.apache.spark.sql.DataFrame) =
      df.select("l_returnflag", "exact_parts", "approx_parts")
        .collect().map(_.toString).sorted.toSeq
    val oneAggregate = lineitem.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
    val got = collected(TpchQueries.partCounts(lineitem))
    assert(got == collected(oneAggregate))
    assert(got.size == 5 && got.contains("[N,0,0]"), got)
  }
}
