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

  test("the real testdata events load as TimestampType at every sf") {
    for (sf <- Seq("0.001", "0.01", "0.1")) {
      val t = Tables.t(spark, s"/root/testdata/sf$sf", "events")
      assert(t.schema("ts").dataType == TimestampType, s"sf$sf")
    }
  }
}
