package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q117's min/max supplier tests select the same orders, suppliers and
  * R-row counts as the distinct-supplier sets they replaced. */
class WaitingOrdersSpec extends SparkSpec {
  import spark.implicits._

  /** The set form: >1 distinct suppliers, exactly one distinct R one. */
  private def setForm(lineitem: DataFrame): DataFrame = {
    val isR = col("l_returnflag") === "R"
    lineitem.select(col("l_orderkey"), col("l_suppkey"), isR.as("is_r"))
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_suppkey")).as("supps"),
        collect_set(when(col("is_r"), col("l_suppkey"))).as("rsupps"),
        count(when(col("is_r"), 1)).as("nr_rows"))
      .filter(size(col("supps")) > 1 && size(col("rsupps")) === 1)
      .select(col("l_orderkey"), element_at(col("rsupps"), 1).as("r_suppkey"),
        col("nr_rows"))
  }

  private def collected(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("min/max supplier tests equal the collect_set form") {
    val R = Some("R"); val N = Some("N"); val A = Some("A")
    val s1 = Some(1L); val s2 = Some(2L); val s3 = Some(3L)
    val cases: Seq[(Long, Option[Long], Option[String])] = Seq(
      (1L, s1, R), (1L, s1, N),                            // one supplier
      (2L, s1, R), (2L, s2, R), (2L, s3, N),               // R rows span two suppliers
      (3L, s1, R), (3L, s1, R), (3L, s2, N), (3L, s3, A),  // one R supplier among others
      (4L, None, R), (4L, s1, R), (4L, s2, N),             // NULL supplier on an R row
      (5L, s1, None), (5L, s2, R), (5L, s1, N),            // NULL return flag
      (6L, None, R), (6L, None, N),                        // only NULL suppliers
      (7L, None, R), (7L, s1, N), (7L, s2, N),             // R rows name no supplier
      (8L, s1, R), (8L, s2, None))                         // second supplier's flag NULL
    val casesDf = cases.toDF("l_orderkey", "l_suppkey", "l_returnflag")
    val expected = collected(setForm(casesDf))
    assert(expected == Seq("[3,1,2]", "[4,1,2]", "[5,2,1]", "[8,1,1]"), expected)
    assert(collected(TpchQueries.waitingOrders(casesDf)) == expected)

    // 1-7 rows per order over 4 suppliers, the flags and NULLs mixed
    val rnd = new scala.util.Random(117)
    val generated = (0 until 800).flatMap { o =>
      Seq.fill(1 + rnd.nextInt(7)) {
        val supp = if (rnd.nextInt(11) == 0) None else Some(1L + rnd.nextInt(4))
        (o.toLong, supp, Seq(R, N, A, None)(rnd.nextInt(4)))
      }
    }
    val lineitem = generated.toDF("l_orderkey", "l_suppkey", "l_returnflag").repartition(3)
    val expectedGen = collected(setForm(lineitem))
    assert(expectedGen.size > 50, expectedGen.size)
    assert(collected(TpchQueries.waitingOrders(lineitem)) == expectedGen)
  }
}
