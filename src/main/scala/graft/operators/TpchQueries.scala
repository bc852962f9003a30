package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import graft.functions.Hll
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** TPC-H analog suite on the reduced star schema (TESTDATA.md): the
  * remaining query *shapes* of the classic 22 — EXISTS / NOT EXISTS,
  * correlated scalar subqueries, HAVING vs. global threshold, NOT IN,
  * histogram-of-counts, nation-pair self-dims — each re-expressed on
  * the columns this schema has (no partsupp / commitdate / shipmode).
  *
  * These exercise the reference's batch SQL surface (Table API / SQL
  * planner, flink-table; SURVEY §2.4-2.8) at the plan shapes that
  * matter at 100 TB: broadcast dims vs. shuffled facts, semi/anti
  * joins instead of materialized DISTINCT subqueries, scalar
  * thresholds as broadcast single-row joins (never a driver collect),
  * and exact decimal aggregation with the DOUBLE output boundary.
  *
  * Correlated-threshold queries avoid float boundary flips by exact
  * integer/decimal cross-multiplication: qty < 0.2*avg is evaluated
  * as 5*qty*cnt < sum — associative-free exact decimal math on both
  * engines, so the comparison can never disagree by one ulp.
  */
object TpchQueries extends QueryModule {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** revenue volume expr shared by several queries */
  private def vol: Column = dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))

  /** q120's per-flag (exact_parts, approx_parts): count(DISTINCT
    * l_partkey) and its HLL++ estimate at rsd 0.02.
    *
    * De-duplicates (l_returnflag, l_partkey) first, then counts and
    * sketches per flag, so the sketch sees one row per distinct pair
    * and keeps one buffer per flag. The registers are the per-bucket
    * maximum over the inserted values, a function of the set of values
    * (Heule et al., EDBT'13), so inserting each value once gives the
    * same sketch. `Hll.approxCountDistinct` keeps those registers in
    * one object buffer and gives Spark's HLL++ estimate exactly. NULL
    * keys drop out of both counts. */
  private[graft] def partCounts(lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_returnflag"), col("l_partkey")).distinct()
      .groupBy(col("l_returnflag"))
      .agg(count(col("l_partkey")).as("exact_parts"),
        Hll.approxCountDistinct(col("l_partkey"), 0.02).as("approx_parts"))

  /** q117's orders with more than one distinct supplier and exactly one
    * distinct supplier among their R-flagged rows: (l_orderkey,
    * r_suppkey, nr_rows). NULL suppliers count in neither set, as
    * `collect_set` skips them; nr_rows counts every R row. min ≠ max
    * holds exactly when a set has two or more members and min = max
    * exactly when it has one, so plain min/max aggregates stand in for
    * the sets. */
  private[graft] def waitingOrders(lineitem: DataFrame): DataFrame = {
    val rSupp = when(col("is_r"), col("l_suppkey"))
    lineitem
      .select(col("l_orderkey"), col("l_suppkey"), (col("l_returnflag") === "R").as("is_r"))
      .groupBy(col("l_orderkey"))
      .agg(
        min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"),
        min(rSupp).as("r_suppkey"), max(rSupp).as("max_r_supp"),
        count(when(col("is_r"), 1)).as("nr_rows"))
      .filter(col("min_supp") =!= col("max_supp") && col("r_suppkey") === col("max_r_supp"))
      .select(col("l_orderkey"), col("r_suppkey"), col("nr_rows"))
  }

  override def queries: Seq[QueryDef] = Seq(

    // ----- TPC-H Q6 analog: scan-only predicate aggregation. The
    // whole query is filter+agg — at scale it is one parquet scan with
    // every predicate pushed (PushedFilters) and a 1-row result; no
    // join, one partial/final agg pair. -----
    q("q105_revenue_forecast",
      """SELECT CAST(round(sum(CAST(l_extendedprice AS decimal(18,4))
        |         * CAST(l_discount AS decimal(18,4))), 4) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""") { (s, dir) =>
      Tables.t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(moneyOut(sum(dec(col("l_extendedprice")) * dec(col("l_discount"))))
          .as("revenue"))
    },

    // ----- TPC-H Q4 analog: EXISTS decorrelates to a LEFT SEMI join
    // on the fact key — never a DISTINCT+inner-join materialization -----
    q("q106_order_priority",
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, dir) =>
      Tables.t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
        .join(Tables.t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
            .select(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },

    // ----- TPC-H Q7 analog: nation-pair volume shipping. The nation
    // dim joins twice under different roles (supplier vs customer
    // side) — both broadcast; the pair filter prunes before the agg -----
    q("q107_volume_shipping",
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(round(sum(vol), 4) AS DOUBLE) AS revenue
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |        CAST(year(l_shipdate) AS INTEGER) AS l_year,
        |        CAST(l_extendedprice AS decimal(18,4))
        |          * CAST(1 - l_discount AS decimal(18,4)) AS vol
        |      FROM supplier
        |      JOIN lineitem ON s_suppkey = l_suppkey
        |      JOIN orders ON o_orderkey = l_orderkey
        |      JOIN customer ON c_custkey = o_custkey
        |      JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |      JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |      WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |         OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')) shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""") { (s, dir) =>
      val n1 = Tables.t(s, dir, "nation")
        .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      val n2 = Tables.t(s, dir, "nation")
        .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
      Tables.t(s, dir, "lineitem")
        .join(Tables.t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.t(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
        .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
        .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7")
          || (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
        .withColumn("l_year", year(col("l_shipdate")))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(moneyOut(sum(vol)).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },

    // ----- TPC-H Q8 analog: market share — a conditional-share ratio.
    // Numerator and denominator are both exact decimal sums brought to
    // DOUBLE at the boundary, then one double division (identical in
    // both engines); never a decimal/decimal division whose result
    // scale is engine-defined. -----
    q("q108_market_share",
      """SELECT o_year,
        |  round(CAST(round(sum(CASE WHEN supp_nation = 'NATION_5'
        |                            THEN vol ELSE CAST(0 AS decimal(18,4)) END), 4) AS DOUBLE)
        |      / CAST(round(sum(vol), 4) AS DOUBLE), 6) AS mkt_share
        |FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |        CAST(l_extendedprice AS decimal(18,4))
        |          * CAST(1 - l_discount AS decimal(18,4)) AS vol,
        |        n1.n_name AS supp_nation
        |      FROM part
        |      JOIN lineitem ON p_partkey = l_partkey
        |      JOIN supplier ON s_suppkey = l_suppkey
        |      JOIN orders ON o_orderkey = l_orderkey
        |      JOIN customer ON c_custkey = o_custkey
        |      JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |      JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |      JOIN region ON n2.n_regionkey = r_regionkey
        |      WHERE r_name = 'AMERICA' AND p_type = 'STANDARD') all_nations
        |GROUP BY o_year ORDER BY o_year""") { (s, dir) =>
      val n1 = Tables.t(s, dir, "nation")
        .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      val n2 = Tables.t(s, dir, "nation")
        .select(col("n_nationkey").as("n2_key"), col("n_regionkey"))
      val amer = Tables.t(s, dir, "region").filter(col("r_name") === "AMERICA")
      Tables.t(s, dir, "lineitem")
        .join(broadcast(Tables.t(s, dir, "part").filter(col("p_type") === "STANDARD")),
          col("p_partkey") === col("l_partkey"))
        .join(Tables.t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.t(s, dir, "customer"), col("c_custkey") === col("o_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
        .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
        .join(broadcast(amer), col("n_regionkey") === col("r_regionkey"))
        .withColumn("o_year", year(col("o_orderdate")))
        .withColumn("vol", vol)
        .groupBy(col("o_year"))
        .agg(round(
          moneyOut(sum(when(col("supp_nation") === "NATION_5", col("vol"))
            .otherwise(lit(0).cast(DecimalType(18, 4)))))
            / moneyOut(sum(col("vol"))), 6).as("mkt_share"))
        .orderBy(col("o_year"))
    },

    // ----- TPC-H Q9 analog: product-type profit by supplier nation
    // and year (profit proxy = revenue − tax, no partsupp cost in this
    // schema). Pattern-filtered part dim broadcasts. -----
    q("q109_product_profit",
      """SELECT nation, o_year, CAST(round(sum(amount), 4) AS DOUBLE) AS sum_profit
        |FROM (SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |        CAST(l_extendedprice AS decimal(18,4))
        |          * CAST(1 - l_discount AS decimal(18,4))
        |          - CAST(l_extendedprice AS decimal(18,4))
        |          * CAST(l_tax AS decimal(18,4)) AS amount
        |      FROM part
        |      JOIN lineitem ON p_partkey = l_partkey
        |      JOIN supplier ON s_suppkey = l_suppkey
        |      JOIN orders ON o_orderkey = l_orderkey
        |      JOIN nation ON s_nationkey = n_nationkey
        |      WHERE p_name LIKE '%red%') profit
        |GROUP BY nation, o_year
        |ORDER BY nation, o_year DESC""") { (s, dir) =>
      val amount = dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")) -
        dec(col("l_extendedprice")) * dec(col("l_tax"))
      Tables.t(s, dir, "lineitem")
        .join(broadcast(Tables.t(s, dir, "part").filter(col("p_name").like("%red%"))),
          col("p_partkey") === col("l_partkey"))
        .join(Tables.t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .withColumn("o_year", year(col("o_orderdate")))
        .groupBy(col("n_name").as("nation"), col("o_year"))
        .agg(moneyOut(sum(amount)).as("sum_profit"))
        .select(col("nation"), col("o_year"), col("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },

    // ----- TPC-H Q11 analog: parts whose revenue exceeds 1.05× the
    // average part revenue. The scalar threshold is a 1-row aggregate
    // joined in by broadcast — no collect(), so the same plan runs
    // unchanged on a cluster; the comparison is the exact decimal
    // cross-multiplication rev·nparts·20 > total·21 (1.05 = 21/20),
    // so no float boundary can flip membership. -----
    q("q110_important_parts",
      """WITH pr AS (SELECT l_partkey,
        |    sum(CAST(l_extendedprice AS decimal(18,4))
        |         * CAST(1 - l_discount AS decimal(18,4))) AS rev
        |  FROM lineitem GROUP BY l_partkey),
        |tot AS (SELECT sum(CAST(l_extendedprice AS decimal(18,4))
        |         * CAST(1 - l_discount AS decimal(18,4))) AS total,
        |    count(DISTINCT l_partkey) AS nparts FROM lineitem)
        |SELECT l_partkey, CAST(round(rev, 4) AS DOUBLE) AS part_rev
        |FROM pr, tot WHERE rev * nparts * 20 > total * 21
        |ORDER BY part_rev DESC, l_partkey""") { (s, dir) =>
      val li = Tables.t(s, dir, "lineitem")
      val pr = li.groupBy(col("l_partkey")).agg(sum(vol).as("rev"))
      // derive the global total from the per-part aggregate: the two
      // branches share an identical agg subtree, so ReuseExchange
      // evaluates the lineitem scan+shuffle once (vs. a second full
      // scan for a direct global sum — the difference is 2× the
      // dominant cost at 100 TB)
      val tot = pr.agg(sum(col("rev")).as("total"), count(lit(1)).as("nparts"))
      pr.join(broadcast(tot))
        .filter(col("rev") * col("nparts") * 20 > col("total") * 21)
        .select(col("l_partkey"), moneyOut(col("rev")).as("part_rev"))
        .orderBy(col("part_rev").desc, col("l_partkey"))
    },

    // ----- TPC-H Q12 analog: two CASE-counted categories in one pass
    // (count(CASE) on both engines — BIGINT-safe, no HUGEINT sums) -----
    q("q111_priority_lines",
      """SELECT l_linestatus,
        |  count(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END) AS high_count,
        |  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 END) AS low_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY l_linestatus ORDER BY l_linestatus""") { (s, dir) =>
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1999-01-01").cast("timestamp"))
        .join(Tables.t(s, dir, "orders"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(count(when(high, 1)).as("high_count"),
          count(when(!high, 1)).as("low_count"))
        .orderBy(col("l_linestatus"))
    },

    // ----- TPC-H Q13 analog: histogram of per-customer order counts.
    // LEFT OUTER with the filter in the join condition (not WHERE), so
    // zero-order customers survive into the c_count=0 bucket. -----
    q("q112_customer_distribution",
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |      GROUP BY c_custkey) c_orders
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""") { (s, dir) =>
      Tables.t(s, dir, "customer")
        .join(Tables.t(s, dir, "orders").filter(col("o_orderpriority") =!= "5-LOW"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // ----- TPC-H Q15 analog: top supplier by quarterly revenue. The
    // MAX scalar subquery re-reads the same grouped view; in Spark the
    // view is one aggregation reused for both sides (self-join on the
    // broadcast 1-row max — the aggregate is computed once per side
    // at worst, never collected). -----
    q("q113_top_supplier",
      """WITH revenue AS (SELECT l_suppkey AS supplier_no,
        |    CAST(round(sum(CAST(l_extendedprice AS decimal(18,4))
        |         * CAST(1 - l_discount AS decimal(18,4))), 4) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1998-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""") { (s, dir) =>
      val revenue = Tables.t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1998-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(moneyOut(sum(vol)).as("total_revenue"))
      val top = revenue.agg(max(col("total_revenue")).as("max_rev"))
      Tables.t(s, dir, "supplier")
        .join(revenue, col("s_suppkey") === col("supplier_no"))
        .join(broadcast(top))
        .filter(col("total_revenue") === col("max_rev"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    },

    // ----- TPC-H Q16 analog: NOT IN over a never-null key list is a
    // broadcast anti join; supplier_cnt is COUNT(DISTINCT) after it -----
    q("q114_parts_supplier_relationship",
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 10, 15, 20, 25)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""") { (s, dir) =>
      val parts = Tables.t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1"
          && col("p_size").isin(1, 5, 10, 15, 20, 25))
      val badSupp = Tables.t(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      Tables.t(s, dir, "lineitem")
        .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(parts), col("p_partkey") === col("l_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    },

    // ----- TPC-H Q17 analog: correlated per-part average threshold.
    // qty < 0.2*avg(qty) is evaluated as 5*qty*cnt < sum — exact
    // decimal cross-multiplication, so no engine can flip a boundary
    // row by a floating ulp. -----
    q("q115_small_quantity_revenue",
      """SELECT round(CAST(round(sum(CAST(l_extendedprice AS decimal(18,4))), 4) AS DOUBLE)
        |       / 7.0, 4) AS avg_yearly
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN (SELECT l_partkey AS pa_key,
        |        sum(CAST(l_quantity AS decimal(18,4))) AS sum_qty,
        |        count(*) AS cnt_qty
        |      FROM lineitem GROUP BY l_partkey) pa ON pa_key = l_partkey
        |WHERE p_brand = 'Brand#3'
        |  AND CAST(l_quantity AS decimal(18,4)) * 5 * cnt_qty < sum_qty""") { (s, dir) =>
      val li = Tables.t(s, dir, "lineitem")
      val pa = li.groupBy(col("l_partkey").as("pa_key"))
        .agg(sum(dec(col("l_quantity"))).as("sum_qty"), count(lit(1)).as("cnt_qty"))
      li.join(broadcast(Tables.t(s, dir, "part").filter(col("p_brand") === "Brand#3")),
          col("p_partkey") === col("l_partkey"))
        .join(pa, col("pa_key") === col("l_partkey"))
        .filter(dec(col("l_quantity")) * 5 * col("cnt_qty") < col("sum_qty"))
        .agg(round(moneyOut(sum(dec(col("l_extendedprice")))) / 7.0, 4).as("avg_yearly"))
    },

    // ----- TPC-H Q20 analog: nested IN chain — both subqueries
    // decorrelate to semi joins (grouped-HAVING supplier list; tiny
    // nation list broadcasts) -----
    q("q116_potential_promotion",
      """SELECT s_name, s_acctbal FROM supplier
        |WHERE s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
        |    WHERE p_type = 'PROMO' AND l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
        |    GROUP BY l_suppkey
        |    HAVING sum(CAST(l_quantity AS decimal(18,4))) > 300)
        |  AND s_nationkey IN (SELECT n_nationkey FROM nation
        |                      WHERE n_name IN ('NATION_2','NATION_12','NATION_22'))
        |ORDER BY s_name""") { (s, dir) =>
      val bigPromo = Tables.t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp"))
        .join(broadcast(Tables.t(s, dir, "part").filter(col("p_type") === "PROMO")),
          col("p_partkey") === col("l_partkey"))
        .groupBy(col("l_suppkey"))
        .agg(sum(dec(col("l_quantity"))).as("tot_qty"))
        .filter(col("tot_qty") > 300)
        .select(col("l_suppkey"))
      val nations = Tables.t(s, dir, "nation")
        .filter(col("n_name").isin("NATION_2", "NATION_12", "NATION_22"))
        .select(col("n_nationkey"))
      Tables.t(s, dir, "supplier")
        .join(bigPromo, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"), "left_semi")
        .select(col("s_name"), col("s_acctbal"))
        .orderBy(col("s_name"))
    },

    // ----- TPC-H Q21 analog: the sole R-flag supplier in multi-
    // supplier finished orders. The EXISTS/NOT EXISTS pair collapses
    // into ONE aggregation pass keyed by order: a qualifying order has
    // >1 distinct suppliers overall and exactly one distinct supplier
    // among its R-flagged rows, and every R row of such an order counts
    // toward that supplier's numwait. The aggregate carries the unique
    // R supplier and its row count forward, so lineitem is read once
    // and shuffled once (the self-join form re-reads the fact table
    // three times and broadcasts two projections of it — a scale-killer
    // at 100 TB). -----
    q("q117_waiting_orders",
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE l1.l_returnflag = 'R' AND o_orderstatus = 'F'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name ORDER BY numwait DESC, s_name""") { (s, dir) =>
      // Single shuffle on l_orderkey: the supplier tests are min/max
      // aggregates, so the partial aggregate is a codegen'd hash
      // aggregate of five fixed-width columns — no Expand, no second
      // aggregate exchange.
      waitingOrders(Tables.t(s, dir, "lineitem"))
        .join(Tables.t(s, dir, "orders").filter(col("o_orderstatus") === "F")
            .select(col("o_orderkey")),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .join(broadcast(Tables.t(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_name"))),
          col("s_suppkey") === col("r_suppkey"))
        .groupBy(col("s_name"))
        .agg(sum(col("nr_rows")).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    },

    // ----- TPC-H Q22 analog: above-average balance and no orders.
    // bal > avg(bal) is evaluated as bal*cnt > sum (exact decimal);
    // the 1-row global aggregate broadcasts; NOT EXISTS → anti join -----
    q("q118_global_sales_opportunity",
      """WITH avgbal AS (SELECT sum(CAST(c_acctbal AS decimal(18,4))) AS s_bal,
        |    count(*) AS c_bal FROM customer WHERE c_acctbal > 0)
        |SELECT CAST(c_nationkey % 5 AS INTEGER) AS cntrycode, count(*) AS numcust,
        |  CAST(round(sum(CAST(c_acctbal AS decimal(18,4))), 4) AS DOUBLE) AS totacctbal
        |FROM customer, avgbal
        |WHERE CAST(c_acctbal AS decimal(18,4)) * c_bal > s_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val cust = Tables.t(s, dir, "customer")
      val avgbal = cust.filter(col("c_acctbal") > 0)
        .agg(sum(dec(col("c_acctbal"))).as("s_bal"), count(lit(1)).as("c_bal"))
      cust.join(broadcast(avgbal))
        .filter(dec(col("c_acctbal")) * col("c_bal") > col("s_bal"))
        .join(Tables.t(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
            .select(col("o_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .groupBy((col("c_nationkey") % 5).cast("int").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          moneyOut(sum(dec(col("c_acctbal")))).as("totacctbal"))
        .orderBy(col("cntrycode"))
    },

    // ----- TPC-H Q2 analog: per-part argmax supplier (the correlated
    // MIN-cost subquery shape). Spark computes the per-part max as a
    // window over the grouped view — one shuffle by part, no
    // re-aggregation join; DuckDB keeps the literal correlated form -----
    q("q119_best_supplier_per_part",
      """WITH ps AS (SELECT l_partkey, l_suppkey,
        |    CAST(round(sum(CAST(l_extendedprice AS decimal(18,4))
        |         * CAST(1 - l_discount AS decimal(18,4))), 4) AS DOUBLE) AS rev
        |  FROM lineitem
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'
        |  GROUP BY l_partkey, l_suppkey)
        |SELECT p_partkey, p_name, s_name, rev
        |FROM ps
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |WHERE p_size = 10
        |  AND rev = (SELECT max(p2.rev) FROM ps p2 WHERE p2.l_partkey = ps.l_partkey)
        |ORDER BY p_partkey, s_name""") { (s, dir) =>
      val asiaSupp = Tables.t(s, dir, "supplier")
        .join(broadcast(Tables.t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.t(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"))
      // the correlated max is per part, so the p_size filter commutes
      // with it — pushing the (broadcast) part filter BELOW the heavy
      // (part,supplier) aggregation shrinks the agg input by the part
      // selectivity while computing identical per-part maxima
      val sizedParts = broadcast(Tables.t(s, dir, "part")
        .filter(col("p_size") === 10).select(col("p_partkey"), col("p_name")))
      val ps = Tables.t(s, dir, "lineitem")
        .join(sizedParts, col("p_partkey") === col("l_partkey"))
        .join(asiaSupp, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_partkey"), col("p_name"), col("l_suppkey"), col("s_name"))
        .agg(moneyOut(sum(vol)).as("rev"))
      ps.withColumn("max_rev",
          max(col("rev")).over(Window.partitionBy(col("l_partkey"))))
        .filter(col("rev") === col("max_rev"))
        .select(col("l_partkey").as("p_partkey"), col("p_name"), col("s_name"),
          col("rev"))
        .orderBy(col("p_partkey"), col("s_name"))
    },

    // ----- HLL sketch: approx COUNT(DISTINCT) (the 100 TB path where
    // exact distinct would shuffle every key) checked against the
    // exact count within its error bound. The oracle pins the exact
    // counts and asserts the sketch stayed in-bound. -----
    q("q120_hll_distinct",
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
      partCounts(Tables.t(s, dir, "lineitem"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts"))
            <= lit(0.05) * col("exact_parts")).as("approx_ok"))
        .orderBy(col("l_returnflag"))
    },

    // ----- quantile sketch: approx_percentile (single-pass mergeable
    // sketch — the scale path for q78's exact percentiles) within 2%
    // of the exact continuous quantile -----
    q("q121_approx_quantile",
      """SELECT o_orderstatus, round(quantile_cont(o_totalprice, 0.5), 6) AS exact_med,
        |  TRUE AS approx_ok
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""") { (s, dir) =>
      Tables.t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(round(expr("percentile(o_totalprice, 0.5)"), 6).as("exact_med"),
          expr("approx_percentile(o_totalprice, 0.5, 10000)").as("approx_med"))
        .select(col("o_orderstatus"), col("exact_med"),
          (abs(col("approx_med") - col("exact_med"))
            <= lit(0.02) * col("exact_med")).as("approx_ok"))
        .orderBy(col("o_orderstatus"))
    }
  )
}
