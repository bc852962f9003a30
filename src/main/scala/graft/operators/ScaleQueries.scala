package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import graft.api.Skew
import graft.pipeline.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.DecimalType

/** Scale-technique demonstrations whose results are oracle-checked:
  * salted skew join, exact percentiles, and bucketed co-located join
  * (§2.9 physical distribution + BASELINE scale north-star).
  */
object ScaleQueries extends QueryModule {

  override def queries: Seq[QueryDef] = Seq(

    // ----- salted join: same result as the plain join, hot keys
    // spread across 8 salt buckets -----
    q("q77_salted_join",
      """SELECT n_name, count(*) AS n,
        |  CAST(round(sum(CAST(value AS decimal(18,4))), 4) AS DOUBLE) AS sum_value
        |FROM events JOIN nation ON CAST(user_id % 25 AS INTEGER) = n_nationkey
        |GROUP BY n_name ORDER BY n_name""") { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
        .withColumn("nk", (col("user_id") % 25).cast("int"))
      val joined = Skew.saltedJoin(ev, Tables.t(s, dir, "nation"),
        col("nk"), col("n_nationkey"), col("event_id"), salts = 8)
      joined.groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"),
          moneyOut(sum(col("value").cast(DecimalType(18, 4)))).as("sum_value"))
        .orderBy(col("n_name"))
    },

    // ----- exact percentiles (continuous interpolation both engines) -----
    q("q78_percentiles",
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.5), 6) AS med,
        |  round(quantile_cont(o_totalprice, 0.9), 6) AS p90,
        |  round(quantile_cont(o_totalprice, 0.99), 6) AS p99
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""") { (s, dir) =>
      Tables.t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 6).as("med"),
          round(expr("percentile(o_totalprice, 0.9)"), 6).as("p90"),
          round(expr("percentile(o_totalprice, 0.99)"), 6).as("p99"))
        .orderBy(col("o_orderstatus"))
    },

    // ----- bucketed co-located join: both sides bucketed by the join
    // key into the session catalog → the join runs with NO shuffle
    // exchange (the batch analog of Flink's pre-partitioned ship
    // strategy; at 100 TB this is how repeated joins amortize their
    // shuffle) -----
    q("q79_bucketed_join",
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(round(sum(CAST(l_quantity AS decimal(18,4))), 4) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""") { (s, dir) =>
      val base = Dedup.scratchDir("graft-q79")
      s.sql("DROP TABLE IF EXISTS g_li_bucketed")
      s.sql("DROP TABLE IF EXISTS g_ord_bucketed")
      Tables.t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
        .write.mode("overwrite").option("path", s"$base/li")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("g_li_bucketed")
      Tables.t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus"))
        .write.mode("overwrite").option("path", s"$base/ord")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("g_ord_bucketed")
      s.table("g_li_bucketed")
        .join(s.table("g_ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          moneyOut(sum(col("l_quantity").cast(DecimalType(18, 4)))).as("sum_qty"))
        .orderBy(col("o_orderstatus"))
    },

    // ----- TPC-H Q5 analog: 6-way snowflake join (region→nation→
    // customer+supplier co-nation condition→orders→lineitem). The two
    // tiny dims broadcast; the fact-side join keys drive the shuffle -----
    q("q81_local_supplier_volume",
      """SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS decimal(18,4))
        |           * CAST(1 - l_discount AS decimal(18,4))), 4) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name IN ('ASIA', 'AMERICA')
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY n_name ORDER BY n_name""") { (s, dir) =>
      val dec = (c: Column) => c.cast(DecimalType(18, 4))
      val r = Tables.t(s, dir, "region").filter(col("r_name").isin("ASIA", "AMERICA"))
      val n = Tables.t(s, dir, "nation")
      val o = Tables.t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      Tables.t(s, dir, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(Tables.t(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(moneyOut(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))))
          .as("revenue"))
        .orderBy(col("n_name"))
    },

    // ----- TPC-H Q18 analog: grouped HAVING subquery + semi join back
    // to the fact (large-order customers) -----
    q("q82_large_orders",
      """SELECT c_name, o_orderkey, o_totalprice, qty
        |FROM (SELECT l_orderkey,
        |        CAST(round(sum(CAST(l_quantity AS decimal(18,4))), 4) AS DOUBLE) AS qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING sum(CAST(l_quantity AS decimal(18,4))) > 120) big
        |JOIN orders ON o_orderkey = big.l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey""") { (s, dir) =>
      val big = Tables.t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 4))).as("qty_raw"))
        .filter(col("qty_raw") > 120)
        .select(col("l_orderkey"), moneyOut(col("qty_raw")).as("qty"))
      big.join(Tables.t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.t(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .select(col("c_name"), col("o_orderkey"), col("o_totalprice"), col("qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    },

    // ----- TPC-H Q10 analog: returned-item revenue per customer,
    // top 20 -----
    q("q83b_returned_items",
      """SELECT c_custkey, c_name,
        |  CAST(round(sum(CAST(l_extendedprice AS decimal(18,4))
        |           * CAST(1 - l_discount AS decimal(18,4))), 4) AS DOUBLE) AS revenue,
        |  n_name
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""") { (s, dir) =>
      val dec = (c: Column) => c.cast(DecimalType(18, 4))
      Tables.t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .join(Tables.t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(moneyOut(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))))
          .as("revenue"))
        .select(col("c_custkey"), col("c_name"), col("revenue"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // ----- TPC-H Q14 analog: conditional aggregation (promo share) -----
    q("q84b_promo_share",
      """SELECT CAST(year(l_shipdate) AS INTEGER) AS y,
        |  CAST(round(sum(CASE WHEN p_type = 'PROMO'
        |        THEN CAST(l_extendedprice AS decimal(18,4)) * CAST(1 - l_discount AS decimal(18,4))
        |        ELSE CAST(0 AS decimal(18,4)) END), 4) AS DOUBLE) AS promo_rev,
        |  CAST(round(sum(CAST(l_extendedprice AS decimal(18,4))
        |           * CAST(1 - l_discount AS decimal(18,4))), 4) AS DOUBLE) AS total_rev
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY y ORDER BY y""") { (s, dir) =>
      val dec = (c: Column) => c.cast(DecimalType(18, 4))
      val rev = dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))
      Tables.t(s, dir, "lineitem")
        .join(broadcast(Tables.t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(year(col("l_shipdate")).as("y"))
        .agg(
          moneyOut(sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0).cast(DecimalType(18, 4))))).as("promo_rev"),
          moneyOut(sum(rev)).as("total_rev"))
        .orderBy(col("y"))
    },

    // ----- TPC-H Q19 analog: disjunction of conjunctive range
    // predicates (the classic OR-of-ANDs pushdown shape) -----
    q("q85b_disjunctive_predicates",
      """SELECT count(*) AS n,
        |  CAST(round(sum(CAST(l_extendedprice AS decimal(18,4))), 4) AS DOUBLE) AS rev
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 5)
        |   OR (p_brand = 'Brand#19' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 10)
        |   OR (p_type = 'ECONOMY' AND l_quantity >= 30)""") { (s, dir) =>
      Tables.t(s, dir, "lineitem")
        .join(broadcast(Tables.t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#13" && col("p_size").between(1, 15) && col("l_quantity") >= 5)
            || (col("p_brand") === "Brand#19" && col("p_size").between(10, 30) && col("l_quantity") >= 10)
            || (col("p_type") === "ECONOMY" && col("l_quantity") >= 30))
        .agg(count(lit(1)).as("n"),
          moneyOut(sum(col("l_extendedprice").cast(DecimalType(18, 4)))).as("rev"))
    }
  )
}
