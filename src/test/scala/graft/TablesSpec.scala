package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loader-level guard for the events.ts dtype drift: the driver's
  * testdata has shipped ts as TIMESTAMP(NANOS), naive µs
  * (TIMESTAMP_NTZ), and plain µs TimestampType across generations.
  * Tables.t must hand every downstream operator ONE type —
  * TimestampType, µs, UTC — whatever generation is on disk.
  * (The NTZ flip silently broke 11 streaming/CEP queries in round 7;
  * this spec pins the normalization.)
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def writeEvents(dir: String, ntz: Boolean): Unit = {
    val df = Seq((1L, "2024-03-01 10:00:00", 7L, "click", 1.5, "{}"),
        (2L, "2024-03-01 11:30:00", 8L, "purchase", 2.5, "{}"))
      .toDF("event_id", "s", "user_id", "event_type", "value", "props")
      .withColumn("ts",
        if (ntz) col("s").cast(TimestampNTZType) else col("s").cast(TimestampType))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("Tables.t normalizes NTZ and µs events.ts to the same UTC TimestampType") {
    val ntzDir = java.nio.file.Files.createTempDirectory("graft_ev_ntz").toString
    val usDir = java.nio.file.Files.createTempDirectory("graft_ev_us").toString
    writeEvents(ntzDir, ntz = true)
    writeEvents(usDir, ntz = false)
    val a = Tables.t(spark, ntzDir, "events")
    val b = Tables.t(spark, usDir, "events")
    assert(a.schema("ts").dataType == TimestampType, "NTZ generation must normalize")
    assert(b.schema("ts").dataType == TimestampType, "µs generation must pass through")
    val va = a.select(col("event_id"), unix_micros(col("ts"))).as[(Long, Long)].collect().toMap
    val vb = b.select(col("event_id"), unix_micros(col("ts"))).as[(Long, Long)].collect().toMap
    assert(va == vb, "both generations must yield identical UTC instants")
  }

  test("Tables.stream reads each events generation and layout like Tables.t") {
    import graft.streaming.Drain
    def micros(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select(col("event_id"), unix_micros(col("ts"))).as[(Long, Long)].collect().toMap
    // a single-file copy of a written events directory: the layout of
    // the sf testdata, read by the file source through a glob
    def singleFile(from: String): String = {
      val to = java.nio.file.Files.createTempDirectory("graft_ev_file")
      val part = new java.io.File(s"$from/events.parquet").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, to.resolve("events.parquet"))
      to.toString
    }
    for (ntz <- Seq(true, false)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_ev_stream").toString
      writeEvents(dir, ntz)
      spark.read.parquet(s"$dir/events.parquet").coalesce(1)
        .write.parquet(s"$dir/one/events.parquet")
      for (d <- Seq(dir, singleFile(s"$dir/one"))) {
        val (out, _) = Drain.toMemory(Tables.stream(spark, d, "events"),
          "graft_tables_stream_spec", "append")
        assert(out.schema("ts").dataType == TimestampType, s"ntz=$ntz $d")
        assert(micros(out) == micros(Tables.t(spark, d, "events")), s"ntz=$ntz $d")
      }
    }
  }

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a warm Tables.t and Tables.stream launch no Spark job") {
    Tables.t(spark, sf, "lineitem")
    Tables.t(spark, sf, "events")
    val (_, batch) = jobsDuring {
      Tables.t(spark, sf, "lineitem").schema
      Tables.t(spark, sf, "events").schema
    }
    assert(batch == 0, s"warm Tables.t started $batch jobs")
    val (_, stream) = jobsDuring {
      Tables.stream(spark, sf, "lineitem").schema
      Tables.stream(spark, sf, "events").schema
    }
    assert(stream == 0, s"warm Tables.stream started $stream jobs")
  }

  test("rewriting a table in place re-infers its schema (single file and directory)") {
    def version(cols: Int) =
      spark.range(3).select((0 until cols).map(i => col("id").as(s"c$i")): _*)
    // a tools.Scale directory, rewritten by Spark
    val scaled = tmp("graft_tables_dir")
    version(1).write.parquet(s"$scaled/region.parquet")
    assert(Tables.t(spark, scaled, "region").columns.toSeq == Seq("c0"))
    version(2).write.mode("overwrite").parquet(s"$scaled/region.parquet")
    assert(Tables.t(spark, scaled, "region").columns.toSeq == Seq("c0", "c1"))
    // a single file (the sf testdata layout), replaced by a copy
    val single = tmp("graft_tables_file")
    def copyIn(cols: Int): Unit = {
      val from = tmp("graft_tables_src")
      version(cols).coalesce(1).write.mode("overwrite").parquet(from)
      val part = new java.io.File(from).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$single/region.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    copyIn(1)
    assert(Tables.t(spark, single, "region").columns.toSeq == Seq("c0"))
    copyIn(3)
    assert(Tables.t(spark, single, "region").columns.toSeq == Seq("c0", "c1", "c2"))
    assert(Tables.t(spark, single, "region").count() == 3)
  }

  test("warm events reads keep every generation's types and values") {
    // TIMESTAMP(NANOS): a two-row fixture (Spark cannot write nanos)
    // holding the same naive times as writeEvents
    val nanosDir = "src/test/resources/events_nanos"
    val ntzDir = tmp("graft_ev_warm_ntz")
    val usDir = tmp("graft_ev_warm_us")
    writeEvents(ntzDir, ntz = true)
    writeEvents(usDir, ntz = false)
    val micros = for (d <- Seq(nanosDir, ntzDir, usDir)) yield {
      val cold = Tables.t(spark, d, "events")
      val coldRows = cold.collect().map(_.toString).sorted
      val (warm, jobs) = jobsDuring(Tables.t(spark, d, "events"))
      assert(jobs == 0, s"$d: warm read started $jobs jobs")
      assert(warm.schema == cold.schema, d)
      assert(warm.schema("ts").dataType == TimestampType, d)
      assert(warm.collect().map(_.toString).sorted.sameElements(coldRows), d)
      warm.select(col("event_id"), unix_micros(col("ts"))).as[(Long, Long)]
        .collect().toMap
    }
    assert(micros.distinct.size == 1, s"generations disagree: $micros")
  }

  test("the real testdata events load as TimestampType at every sf") {
    for (sf <- Seq("0.001", "0.01", "0.1")) {
      val t = Tables.t(spark, s"/root/testdata/sf$sf", "events")
      assert(t.schema("ts").dataType == TimestampType, s"sf$sf")
    }
  }
}
