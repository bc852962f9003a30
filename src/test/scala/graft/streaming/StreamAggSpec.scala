package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** q45's streamed user estimate is the batch `approx_count_distinct`
  * over the same events, per event_type. */
class StreamAggSpec extends SparkSpec {

  test("streamed n_users_approx per event_type equals batch approx_count_distinct") {
    val streamed = Drain.toMemory(
      StreamQueries.eventTypeAgg(Tables.stream(spark, sf, "events")),
      "graft_stream_agg_spec", "complete")._1
      .select(col("event_type"), col("n_users_approx"))
    val batch = Tables.t(spark, sf, "events").groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("n_users_approx"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val expected = rows(batch)
    assert(expected.nonEmpty)
    assert(rows(streamed) == expected)
  }
}
