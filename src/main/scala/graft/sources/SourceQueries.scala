package graft.sources

import graft.{QueryDef, QueryModule, Tables}
import graft.pipeline.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Source/sink formats (§2.1/§2.2) and the temporal (as-of) join
  * (§2.4 hard part #1 — TemporalRowtimeJoin.scala analog).
  */
object SourceQueries extends QueryModule {

  override def queries: Seq[QueryDef] = Seq(

    // ----- CSV sink + source round-trip (writeAsCsv/readCsvFile,
    // CsvTableSource/CsvTableSink): identity result proves the serde -----
    q("q71_csv_roundtrip",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""") { (s, dir) =>
      val path = Dedup.scratchDir("graft-q71") + "/nation_csv"
      val n = Tables.t(s, dir, "nation")
      n.write.mode("overwrite").option("header", true).csv(path)
      s.read.option("header", true).schema(n.schema).csv(path)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_nationkey"))
    },

    // ----- JDBC sink + partitioned-source round-trip (flink-jdbc
    // JDBCOutputFormat.java:41 / JDBCInputFormat.java:101 with the
    // NumericBetweenParametersProvider split strategy): nation is
    // written into an EMBEDDED Derby (the engine the reference's own
    // JDBCTestBase.java:38 tests against — in-JVM, no server), then
    // read back as a 4-way ranged parallel scan. Identity result
    // proves the full write-batch → ranged-read path; the sources
    // .Jdbc scaladoc carries the 100 TB sizing model. -----
    q("q164_jdbc_roundtrip",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""") { (s, dir) =>
      import graft.sources.Jdbc
      val url = "jdbc:derby:memory:graftq164;create=true"
      val props = new java.util.Properties
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      val n = Tables.t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      Jdbc.write(n, url, "nation_rt",
        org.apache.spark.sql.SaveMode.Overwrite, props)
      Jdbc.readPartitioned(s, url, "nation_rt", "n_nationkey",
          lower = 0L, upper = 24L, numPartitions = 4, props = props)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_nationkey"))
    },

    // ----- ORC sink + source round-trip (OrcTableSource /
    // OrcRowInputFormat, flink-orc): columnar scan with predicate
    // pushdown comes native from Spark's ORC reader; the pushed
    // filter is part of what the roundtrip exercises -----
    q("q101_orc_roundtrip",
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_totalprice > 200000
        |ORDER BY o_orderkey""") { (s, dir) =>
      val path = Dedup.scratchDir("graft-q101") + "/orders_orc"
      val o = Tables.t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      o.write.mode("overwrite").orc(path)
      s.read.orc(path)
        .filter(col("o_totalprice") > 200000) // pushed into the ORC scan
        .orderBy(col("o_orderkey"))
    },

    // ----- Avro record serde roundtrip (AvroRowSerializationSchema /
    // AvroRowDeserializationSchema, flink-formats/flink-avro): rows
    // encode to Avro binary against a writer schema and decode back —
    // identity result proves the wire format. Rides the core avro jar
    // (spark-avro's datasource is absent here); see
    // functions/AvroSerde.scala for the expression pair. -----
    q("q129_avro_roundtrip",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""") { (s, dir) =>
      import graft.functions.AvroSerde
      val schema =
        """{"type":"record","name":"Nation","fields":[
          |  {"name":"n_nationkey","type":["null","long"],"default":null},
          |  {"name":"n_name","type":["null","string"],"default":null},
          |  {"name":"n_regionkey","type":["null","long"],"default":null}]}"""
          .stripMargin
      Tables.t(s, dir, "nation")
        .select(AvroSerde.to_avro_record(
          struct(col("n_nationkey"), col("n_name"), col("n_regionkey")),
          schema).as("avro"))
        .select(AvroSerde.from_avro_record(col("avro"), schema).as("rec"))
        .select(col("rec.n_nationkey").cast("int").as("n_nationkey"),
          col("rec.n_name").as("n_name"),
          col("rec.n_regionkey").cast("int").as("n_regionkey"))
        .orderBy(col("n_nationkey"))
    },

    // ----- hive-style partitioned layout + partition pruning: the
    // dominant 100 TB table layout — facts written partitionBy(year),
    // a year-filtered read touches ONLY that partition's files
    // (PartitionFilters in the scan, guarded by PlanSpec). The
    // reference gets the same effect from its bucketed file sinks +
    // filterable table sources. -----
    q("q127_partition_pruning",
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(round(sum(CAST(l_extendedprice AS decimal(18,4))), 4) AS DOUBLE) AS rev
        |FROM lineitem WHERE year(l_shipdate) = 1998
        |GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
      val path = Dedup.scratchDir("graft-q127") + "/lineitem_by_year"
      Tables.t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"), col("l_shipdate"),
          year(col("l_shipdate")).as("l_year"))
        .write.mode("overwrite").partitionBy("l_year").parquet(path)
      s.read.parquet(path)
        .filter(col("l_year") === 1998) // prunes to one directory
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          moneyOut(sum(col("l_extendedprice").cast(DecimalType(18, 4)))).as("rev"))
        .orderBy(col("l_returnflag"))
    },

    // ----- JSON serde (flink-formats/flink-json De/SerializationSchema
    // → to_json/from_json round-trip through a string column) -----
    q("q72_json_roundtrip",
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_custkey""") { (s, dir) =>
      val c = Tables.t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val schema = c.schema
      c.select(to_json(struct(col("*"))).as("js"))
        .select(from_json(col("js"), schema).as("r"))
        .select(col("r.c_custkey").as("c_custkey"), col("r.c_name").as("c_name"),
          col("r.c_acctbal").as("c_acctbal"))
        .orderBy(col("c_custkey"))
    },

    // ----- event-time temporal (as-of) join: enrich each purchase with
    // the latest signup value at-or-before its timestamp, per user.
    // Implemented as the scalable union + last_value(ignoreNulls) OVER
    // pattern: ONE shuffle on user_id + one sort — no per-key loop, no
    // nested-loop probe; this is the plan shape that survives 100 TB
    // (reference TemporalRowtimeJoin.scala keeps a sorted version
    // buffer per key — the window sort is the batch equivalent). -----
    q("q73_temporal_asof_join",
      """SELECT p.event_id,
        |  (SELECT s.value FROM events s
        |   WHERE s.user_id = p.user_id AND s.event_type = 'signup'
        |     AND s.ts <= p.ts
        |   ORDER BY s.ts DESC, s.event_id DESC LIMIT 1) AS rate
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""") { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
        .filter(col("event_type").isin("signup", "purchase"))
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          when(col("event_type") === "signup", col("value")).as("rate_raw"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("rate", last(col("rate_raw"), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("rate"))
        .orderBy(col("event_id"))
    },

    // ----- UDTF / lateral correlate (table.scala:627 joinLateral,
    // DataSetCorrelate.scala) via LATERAL VIEW posexplode on the SQL
    // surface -----
    q("q74_udtf_lateral",
      """SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, w[i] AS word
        |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |     unnest(range(1, least(6, len(w) + 1))) AS t(i)
        |ORDER BY doc_id, pos""") { (s, dir) =>
      Tables.t(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql(
        """SELECT doc_id, pos, word
          |FROM documents
          |LATERAL VIEW posexplode(split(text, ' ')) t AS pos, word
          |WHERE pos < 5
          |ORDER BY doc_id, pos""".stripMargin)
    },

    // ----- zipWithIndex (DataSetUtils.java:69) through the façade -----
    q("q75_zipwithindex",
      """SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) - 1 AS index
        |FROM customer ORDER BY index""") { (s, dir) =>
      import graft.api.BatchOps
      new BatchOps(Tables.t(s, dir, "customer"))
        .zipWithIndex(col("c_custkey"))
        .select(col("c_custkey"), col("index"))
        .orderBy(col("index"))
    }
  )
}
