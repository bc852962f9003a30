package graft.table

import graft.{QueryDef, QueryModule, Tables}
import graft.functions.FlinkFunctions
import graft.pipeline.Dedup
import org.apache.spark.sql.functions._

/** Queries through the Table/SQL façade: Flink group-window SQL
  * dialect (TUMBLE), SIMILAR TO, registered UDFs, COLLECT multiset —
  * the §2.11/§2.5 pieces that needed custom work (SURVEY §7.2).
  */
object TableQueries extends QueryModule {

  private val H6 = 6 * 3600 * 1000L

  override def queries: Seq[QueryDef] = Seq(

    // ----- Flink TUMBLE SQL syntax through the dialect shim -----
    q("q67_sql_tumble_dialect",
      s"""SELECT epoch_ms((epoch_ms(ts) // $H6) * $H6) AS w_start,
         |  event_type, count(*) AS n
         |FROM events GROUP BY 1, 2
         |ORDER BY w_start, event_type""") { (s, dir) =>
      val env = TableEnv(s)
      env.registerTable("events", Tables.t(s, dir, "events"))
      env.sqlQuery(
        """SELECT TUMBLE_START(ts, INTERVAL '6' HOUR) AS w_start,
          |       event_type, COUNT(*) AS n
          |FROM events
          |GROUP BY TUMBLE(ts, INTERVAL '6' HOUR), event_type
          |ORDER BY w_start, event_type""".stripMargin)
    },

    // ----- SIMILAR TO (SQL-regex → Java-regex translation); oracle
    // uses the hand-translated anchored regex -----
    q("q68_similar_to",
      """SELECT p_partkey, p_name,
        |  regexp_full_match(p_name, '.*(ot|in).*') AS m1,
        |  regexp_full_match(p_name, 'h.t .*') AS m2,
        |  regexp_full_match(p_name, '.*[aeiou]') AS m3
        |FROM part ORDER BY p_partkey""") { (s, dir) =>
      import FlinkFunctions.similar
      Tables.t(s, dir, "part").select(
        col("p_partkey"), col("p_name"),
        similar(col("p_name"), "%(ot|in)%").as("m1"),
        similar(col("p_name"), "h_t %").as("m2"),
        similar(col("p_name"), "%[aeiou]").as("m3"))
        .orderBy(col("p_partkey"))
    },

    // ----- registered UDFs (registerFunction path) + numeric TRUNCATE
    // + TEMPORAL OVERLAPS -----
    q("q69_udf_trunc_overlaps",
      """SELECT o_orderkey,
        |  sign(o_totalprice) * floor(abs(o_totalprice) * 10) / 10 AS trunc1,
        |  sign(o_totalprice - 200000) * floor(abs(o_totalprice - 200000) * 100) / 100 AS trunc2,
        |  (o_orderdate <= TIMESTAMP '1997-06-30 00:00:00'
        |   AND TIMESTAMP '1997-01-01 00:00:00' <= o_orderdate + INTERVAL 30 DAY) AS in_h1_97
        |FROM orders ORDER BY o_orderkey""") { (s, dir) =>
      FlinkFunctions.register(s)
      Tables.t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(
        """SELECT o_orderkey,
          |  truncate_num(o_totalprice, 1) AS trunc1,
          |  truncate_num(o_totalprice - 200000, 2) AS trunc2,
          |  o_orderdate, o_orderdate + INTERVAL 30 DAY AS order_end
          |FROM orders""".stripMargin)
        .select(col("o_orderkey"), col("trunc1"), col("trunc2"),
          FlinkFunctions.temporalOverlaps(
            col("o_orderdate"), col("order_end"),
            lit("1997-01-01").cast("timestamp"), lit("1997-06-30").cast("timestamp"))
            .as("in_h1_97"))
        .orderBy(col("o_orderkey"))
    },

    // ----- fluent Table API (string expressions) end-to-end: filter →
    // join → groupBy.select → orderBy, Flink table.scala style -----
    q("q80_table_api_fluent",
      """SELECT c_mktsegment AS seg, count(*) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS decimal(18,4))), 4) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY c_mktsegment
        |ORDER BY seg""") { (s, dir) =>
      Table(Tables.t(s, dir, "orders"))
        .where("o_orderstatus = 'F'")
        .join(Table(Tables.t(s, dir, "customer")), "o_custkey = c_custkey")
        .groupBy("c_mktsegment")
        .select("c_mktsegment as seg, count(*) as n, " +
          "cast(round(sum(cast(o_totalprice as decimal(18,4))), 4) as double) as revenue")
        .select("seg, n, revenue")
        .orderBy("seg")
        .toDF
    },

    // ----- INSERT INTO via sqlUpdate (TableEnvironment.scala:776 —
    // 1.8's only DML): write a filtered projection to a catalog table,
    // read it back -----
    q("q90_insert_into",
      """SELECT n_nationkey, n_name FROM nation
        |WHERE n_regionkey = 2 ORDER BY n_nationkey""") { (s, dir) =>
      val env = TableEnv(s)
      env.registerTable("nation_src", Tables.t(s, dir, "nation"))
      s.sql("DROP TABLE IF EXISTS g_nation_sink")
      val sink = Dedup.scratchDir("graft-q90") + "/q90_sink"
      s.sql(s"""CREATE TABLE g_nation_sink (n_nationkey INT, n_name STRING)
              |USING parquet LOCATION '$sink'""".stripMargin)
      env.sqlUpdate(
        """INSERT OVERWRITE TABLE g_nation_sink
          |SELECT n_nationkey, n_name FROM nation_src WHERE n_regionkey = 2"""
          .stripMargin)
      s.table("g_nation_sink").orderBy(col("n_nationkey"))
    },

    // ----- base64/hex encode-decode round trips (FromBase64/ToBase64,
    // Hex — stringExpressions.scala:428-468): identity proves both
    // directions -----
    q("q91_encodings",
      """SELECT p_partkey,
        |  to_base64(encode(p_name)) AS b64,
        |  p_name AS b64_roundtrip,
        |  upper(hex(encode(p_brand))) AS hexed,
        |  p_brand AS hex_roundtrip
        |FROM part ORDER BY p_partkey""") { (s, dir) =>
      Tables.t(s, dir, "part").select(
        col("p_partkey"),
        base64(col("p_name").cast("binary")).as("b64"),
        decode(unbase64(base64(col("p_name").cast("binary"))), "UTF-8").as("b64_roundtrip"),
        hex(col("p_brand").cast("binary")).as("hexed"),
        decode(unhex(hex(col("p_brand").cast("binary"))), "UTF-8").as("hex_roundtrip"))
        .orderBy(col("p_partkey"))
    },

    // ----- COLLECT multiset aggregate (element→count), rendered
    // sorted for portable comparison -----
    q("q70_collect_multiset",
      """SELECT c_nationkey, string_agg(seg || ':' || n, ',' ORDER BY seg) AS segs
        |FROM (SELECT c_nationkey, c_mktsegment AS seg, count(*) AS n
        |      FROM customer GROUP BY 1, 2)
        |GROUP BY c_nationkey ORDER BY c_nationkey""") { (s, dir) =>
      Tables.t(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(FlinkFunctions.collectMultisetString(col("c_mktsegment")).as("segs"))
        .orderBy(col("c_nationkey"))
    }
  )
}
