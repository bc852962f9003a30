package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryProgress}

/** Run-to-completion for the streaming queries whose final output is
  * compared with a batch oracle (the prefix-consistency contract:
  * once every available input is processed, a stream's output equals
  * the batch result over that input). Registered streams drain here
  * (QueryableState's serving query excepted: its caller drives it),
  * and the final progress — watermark, input rows, state rows per
  * operator — comes back to the caller instead of being dropped.
  */
object Drain {

  /** Start `writer`, process every available input, and stop the
    * query (also on failure). Returns the query's last progress; None
    * when no micro-batch ran. */
  def apply(writer: DataStreamWriter[_]): Option[StreamingQueryProgress] = {
    val query = writer.start()
    try {
      query.processAllAvailable()
      Option(query.lastProgress)
    } finally query.stop()
  }

  /** Drain `df` into the memory sink `name` under output `mode`;
    * returns the sink table (the query's final output) and the last
    * progress. */
  def toMemory(df: DataFrame, name: String,
      mode: String): (DataFrame, Option[StreamingQueryProgress]) = {
    df.sparkSession.catalog.dropTempView(name)
    val progress = apply(df.writeStream.format("memory").queryName(name)
      .outputMode(mode))
    (df.sparkSession.table(name), progress)
  }
}
