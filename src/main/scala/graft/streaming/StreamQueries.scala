package graft.streaming

import graft.{QueryDef, QueryModule, Tables}
import graft.functions.Hll
import graft.pipeline.Dedup
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Event-time windows, watermarks, streaming state (SURVEY.md §2.10).
  *
  * Covers the reference's window assigners (TumblingEventTimeWindows
  * .java:63, SlidingEventTimeWindows.java:68, EventTimeSessionWindows
  * .java:59, countWindow KeyedStream.java:642), continuous group-agg
  * (GroupAggProcessFunction.scala), stream dedup, stream-static join
  * and the interval join (KeyedStream.java:414 intervalJoin,
  * TimeBoundedStreamJoin.scala) — as Spark `window()`/`session_window`
  * aggregations and genuine Structured Streaming queries (readStream →
  * memory sink, final-state compared; retraction parity per SURVEY
  * §7.3 means oracles compare final tables, not change logs).
  *
  * Window starts are epoch-aligned in both engines; oracles derive
  * bucket starts from epoch_ms arithmetic rather than time_bucket to
  * pin the alignment explicitly.
  */
object StreamQueries extends QueryModule {

  private val H6 = 6 * 3600 * 1000L  // 6h in ms
  private val H2 = 2 * 3600 * 1000L

  /** q45's continuous aggregate per event_type: row count, exact
    * decimal value sum and the HLL++ user estimate at rsd 0.05. */
  private[graft] def eventTypeAgg(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        moneyOut(sum(col("value").cast(DecimalType(18, 4)))).as("sum_value"),
        Hll.approxCountDistinct(col("user_id"), 0.05).as("n_users_approx"))

  override def queries: Seq[QueryDef] = Seq(

    // ----- tumbling event-time window, batch execution -----
    q("q40_window_tumble",
      s"""SELECT epoch_ms((epoch_ms(ts) // $H6) * $H6) AS w_start,
         |  epoch_ms((epoch_ms(ts) // $H6) * $H6 + $H6) AS w_end,
         |  event_type, count(*) AS n,
         |  CAST(round(sum(CAST(value AS decimal(18,4))), 4) AS DOUBLE) AS sum_value
         |FROM events
         |GROUP BY 1, 2, 3
         |ORDER BY w_start, event_type""") { (s, dir) =>
      Tables.t(s, dir, "events")
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          moneyOut(sum(col("value").cast(DecimalType(18, 4)))).as("sum_value"))
        .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("w_start"), col("event_type"))
    },

    // ----- sliding (hopping) window: size 6h, slide 2h -----
    q("q41_window_hop",
      s"""SELECT epoch_ms(((epoch_ms(ts) // $H2) - k) * $H2) AS w_start,
         |  epoch_ms(((epoch_ms(ts) // $H2) - k) * $H2 + $H6) AS w_end,
         |  count(*) AS n
         |FROM events CROSS JOIN (VALUES (0), (1), (2)) AS offs(k)
         |GROUP BY 1, 2
         |ORDER BY w_start""") { (s, dir) =>
      Tables.t(s, dir, "events")
        .groupBy(window(col("ts"), "6 hours", "2 hours"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("window.end").as("w_end"), col("n"))
        .orderBy(col("w_start"))
    },

    // ----- session windows, 30 min gap, per user (gaps-and-islands
    // oracle — an independent formulation of session semantics) -----
    q("q42_window_session",
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_s
        |  FROM events),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM g)
        |SELECT user_id, min(ts) AS w_start, max(ts) + INTERVAL 30 MINUTE AS w_end,
        |  count(*) AS n,
        |  CAST(round(sum(CAST(value AS decimal(18,4))), 4) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, w_start""") { (s, dir) =>
      Tables.t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"),
          moneyOut(sum(col("value").cast(DecimalType(18, 4)))).as("sum_value"))
        .select(col("user_id"), col("session_window.start").as("w_start"),
          col("session_window.end").as("w_end"), col("n"), col("sum_value"))
        .orderBy(col("user_id"), col("w_start"))
    },

    // ----- dynamic-gap session windows (DynamicEventTimeSessionWindows
    // .java): gap depends on the event — errors hold the session only
    // 10 min, everything else 30 min. Spark merges per-event windows
    // [ts, ts+gap); oracle reproduces with variable-gap islands. -----
    q("q42b_session_dynamic_gap",
      """WITH g AS (
        |  SELECT user_id, ts,
        |    ts + (CASE WHEN event_type = 'error' THEN INTERVAL 10 MINUTE
        |               ELSE INTERVAL 30 MINUTE END) AS w_end
        |  FROM events),
        |m AS (SELECT user_id, ts,
        |    max(w_end) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_max,
        |    CASE WHEN max(w_end) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR ts >= max(w_end) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM g),
        |s AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id
        |        ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT user_id, min(ts) AS w_start, count(*) AS n
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, w_start""") { (s, dir) =>
      val gap = when(col("event_type") === "error", "10 minutes")
        .otherwise("30 minutes")
      Tables.t(s, dir, "events")
        .groupBy(session_window(col("ts"), gap), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("session_window.start").as("w_start"), col("n"))
        .orderBy(col("user_id"), col("w_start"))
    },

    // ----- dynamic-gap session windows on a REAL stream (reference
    // DynamicEventTimeSessionWindows.java): the per-row gap Column —
    // errors close their session after 10 min, everything else after
    // 30 — feeds session_window directly under a watermark; same
    // oracle as the batch q42b, so the streaming merge path is
    // hash-checked against the relational run-max definition. -----
    q("q42c_stream_session_dynamic",
      """WITH g AS (
        |  SELECT user_id, ts,
        |    ts + (CASE WHEN event_type = 'error' THEN INTERVAL 10 MINUTE
        |               ELSE INTERVAL 30 MINUTE END) AS w_end
        |  FROM events),
        |m AS (SELECT user_id, ts,
        |    max(w_end) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_max,
        |    CASE WHEN max(w_end) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR ts >= max(w_end) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM g),
        |s AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id
        |        ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT user_id, min(ts) AS w_start, count(*) AS n
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, w_start""") { (s, dir) =>
      import s.implicits._
      implicit val sq = s.sqlContext
      val sentinel = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, Long, String)]
      sentinel.addData((-1L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), -1L, "view"))
      val gap = when(col("event_type") === "error", "10 minutes")
        .otherwise("30 minutes")
      val agg = Tables.stream(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        .unionByName(sentinel.toDF().toDF("event_id", "ts", "user_id", "event_type"))
        .withWatermark("ts", "1 minute")
        .groupBy(session_window(col("ts"), gap), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("session_window.start").as("w_start"), col("n"))
      Drain.toMemory(agg, "graft_stream_sess_dyn", "append")._1
        .filter(col("user_id") =!= -1L)
        .orderBy(col("user_id"), col("w_start"))
    },

    // ----- the same tumble as a REAL streaming query: readStream +
    // watermark + windowed agg, complete mode, final state compared -----
    q("q43_stream_tumble",
      s"""SELECT epoch_ms((epoch_ms(ts) // $H6) * $H6) AS w_start,
         |  event_type, count(*) AS n
         |FROM events
         |GROUP BY 1, 2
         |ORDER BY w_start, event_type""") { (s, dir) =>
      val agg = Tables.stream(s, dir, "events")
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("event_type"), col("n"))
      Drain.toMemory(agg, "graft_stream_tumble", "complete")._1
        .orderBy(col("w_start"), col("event_type"))
    },

    // ----- streaming dedup (dropDuplicates within watermark) -----
    q("q44_stream_dedup",
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""") { (s, dir) =>
      val dedup = Tables.stream(s, dir, "events")
        .withWatermark("ts", "1 hour")
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
      Drain.toMemory(dedup, "graft_stream_dedup", "append")._1
        .orderBy(col("user_id"), col("event_type"))
    },

    // ----- continuous (unbounded) group aggregation — reference
    // GroupAggProcessFunction.scala:1; final state of the running agg -----
    q("q45_stream_agg",
      """SELECT event_type, count(*) AS n,
        |  CAST(round(sum(CAST(value AS decimal(18,4))), 4) AS DOUBLE) AS sum_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type
        |ORDER BY event_type""") { (s, dir) =>
      val agg = eventTypeAgg(Tables.stream(s, dir, "events"))
      // exact count(distinct) is unsupported on streams; run approx in
      // the stream (scale path) and recompute exact on the final state
      // micro-table for oracle parity
      val fin = Drain.toMemory(agg, "graft_stream_agg", "complete")._1
      val exact = Tables.t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      fin.drop("n_users_approx")
        .join(exact, "event_type")
        .orderBy(col("event_type"))
    },

    // ----- count windows (KeyedStream.java:642 countWindow): emit an
    // aggregate per 20 records per key; incomplete tail not emitted.
    // flatMapGroupsWithState = the keyed-state escape hatch (§2.10) -----
    q("q46_count_windows",
      """WITH r AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, CAST((rn - 1) // 20 AS INTEGER) AS win_id,
        |  count(*) AS n,
        |  CAST(round(sum(CAST(value AS decimal(18,4))), 4) AS DOUBLE) AS sum_value
        |FROM r GROUP BY user_id, win_id
        |HAVING count(*) = 20
        |ORDER BY user_id, win_id""") { (s, dir) =>
      import s.implicits._
      val ev = Tables.t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        .as[(Long, java.time.Instant, Long, Double)]
      ev.groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
          (uid: Long, it: Iterator[(Long, java.time.Instant, Long, Double)],
           _: GroupState[Int]) => {
            val sorted = it.toIndexedSeq
              .sortBy(e => (e._2.getEpochSecond, e._2.getNano, e._3))
            sorted.grouped(20).zipWithIndex
              .filter(_._1.size == 20)
              .map { case (win, i) =>
                val sumV = win.map(e => BigDecimal(e._4).setScale(4, BigDecimal.RoundingMode.HALF_EVEN)).sum
                (uid, i, 20L, sumV)
              }
          })
        .toDF("user_id", "win_id", "n", "sum_value")
        .withColumn("sum_value", moneyOut(col("sum_value").cast(DecimalType(38, 4))))
        .orderBy(col("user_id"), col("win_id"))
    },

    // ----- stream-static (dimension) join: streaming events against a
    // broadcast dimension table (reference broadcast state pattern) -----
    q("q47_stream_static_join",
      """SELECT n_name, count(*) AS n
        |FROM events JOIN nation ON CAST(user_id % 25 AS INTEGER) = n_nationkey
        |GROUP BY n_name ORDER BY n_name""") { (s, dir) =>
      val dim = Tables.t(s, dir, "nation")
      val joined = Tables.stream(s, dir, "events")
        .withColumn("nk", (col("user_id") % 25).cast("int"))
        .join(broadcast(dim), col("nk") === col("n_nationkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n"))
      Drain.toMemory(joined, "graft_stream_static", "complete")._1
        .orderBy(col("n_name"))
    },

    // ----- interval join, batch form (KeyedStream.java:414): for each
    // purchase, errors of the same user in [-30min, 0] -----
    q("q48_interval_join",
      """SELECT p.event_id AS purchase_id, e.event_id AS error_id
        |FROM events p JOIN events e
        |  ON p.user_id = e.user_id
        | AND p.event_type = 'purchase' AND e.event_type = 'error'
        | AND e.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
        |ORDER BY purchase_id, error_id""") { (s, dir) =>
      val ev = Tables.t(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      val e = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id").as("e_user"), col("ts").as("e_ts"))
      p.join(e, col("p_user") === col("e_user")
          && col("e_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES")
          && col("e_ts") <= col("p_ts"))
        .select(col("purchase_id"), col("error_id"))
        .orderBy(col("purchase_id"), col("error_id"))
    },

    // ----- the same interval join as a TRUE stream-stream join with
    // watermarks + time-bounded condition (TimeBoundedStreamJoin.scala) -----
    q("q49_stream_interval_join",
      """SELECT p.event_id AS purchase_id, e.event_id AS error_id
        |FROM events p JOIN events e
        |  ON p.user_id = e.user_id
        | AND p.event_type = 'purchase' AND e.event_type = 'error'
        | AND e.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
        |ORDER BY purchase_id, error_id""") { (s, dir) =>
      val p = Tables.stream(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val e = Tables.stream(s, dir, "events").filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id").as("e_user"), col("ts").as("e_ts"))
        .withWatermark("e_ts", "1 hour")
      val joined = p.join(e, col("p_user") === col("e_user")
          && col("e_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES")
          && col("e_ts") <= col("p_ts"))
        .select(col("purchase_id"), col("error_id"))
      Drain.toMemory(joined, "graft_stream_ij", "append")._1
        .orderBy(col("purchase_id"), col("error_id"))
    },

    // ----- streaming OVER aggregate via foreachBatch (SURVEY §7.3
    // rank 5: Spark has no window functions on streams; the proc-time
    // variants run per micro-batch — batch-global here since the file
    // source yields one batch, matching the batch oracle) -----
    q("q76_stream_over_foreachbatch",
      """SELECT event_id,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |       ORDER BY ts, event_id) AS INTEGER) AS rn,
        |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_n
        |FROM events ORDER BY event_id""") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val outPath = Dedup.scratchDir("graft-q76") + "/q76_over"
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Drain(Tables.stream(s, dir, "events").writeStream.foreachBatch {
        (df: DataFrame, _: Long) =>
          df.withColumn("rn", row_number().over(w))
            .withColumn("running_n",
              count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
            .select(col("event_id"), col("rn"), col("running_n"))
            .write.mode("overwrite").parquet(outPath)
      })
      s.read.parquet(outPath).orderBy(col("event_id"))
    },

    // ----- stream-stream LEFT OUTER interval join (reference
    // NonWindowLeftRightJoin/TimeBoundedStreamJoin): unmatched left
    // rows emit only once the watermark seals their join window, so a
    // far-future sentinel row (filtered back out) flushes the tail -----
    q("q83_stream_outer_join",
      """SELECT p.event_id AS purchase_id, e.event_id AS error_id
        |FROM events p LEFT JOIN events e
        |  ON p.user_id = e.user_id AND e.event_type = 'error'
        | AND e.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
        |WHERE p.event_type = 'purchase'
        |ORDER BY purchase_id, error_id NULLS FIRST""") { (s, dir) =>
      import s.implicits._
      implicit val sq = s.sqlContext
      val sentinel = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, Long)]
      sentinel.addData((-1L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), -1L))
      val sentinelDf = sentinel.toDF().toDF("event_id", "ts", "user_id")

      val p = Tables.stream(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("user_id"))
        .unionByName(sentinelDf)
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 minute")
      // the stream watermark is the min across inputs, so the right
      // side needs its own sentinel or unmatched-left emission stalls
      val sentinelR = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, Long)]
      sentinelR.addData((-1L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), -1L))
      val e = Tables.stream(s, dir, "events").filter(col("event_type") === "error")
        .select(col("event_id"), col("ts"), col("user_id"))
        .unionByName(sentinelR.toDF().toDF("event_id", "ts", "user_id"))
        .select(col("event_id").as("error_id"), col("user_id").as("e_user"), col("ts").as("e_ts"))
        .withWatermark("e_ts", "1 minute")
      val joined = p.join(e,
          col("p_user") === col("e_user")
            && col("e_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES")
            && col("e_ts") <= col("p_ts"),
          "left_outer")
        .select(col("purchase_id"), col("error_id"))
      Drain.toMemory(joined, "graft_stream_oj", "append")._1
        .filter(col("purchase_id") =!= -1L)
        .orderBy(col("purchase_id"), col("error_id").asc_nulls_first)
    },

    // ----- STREAMING CEP with the timed-out side output
    // (PatternStream.flatSelect timeout variant): views with NO
    // purchase inside the 1h window = abandoned funnels, emitted from
    // the timeout side when each view's window seals -----
    q("q126_cep_stream_timeouts",
      """SELECT v.user_id, v.event_id AS view_id
        |FROM events v
        |WHERE v.event_type = 'view'
        |  AND NOT EXISTS (SELECT 1 FROM events p
        |    WHERE p.user_id = v.user_id AND p.event_type = 'purchase'
        |      AND (p.ts > v.ts OR (p.ts = v.ts AND p.event_id > v.event_id))
        |      AND p.ts < v.ts + INTERVAL 1 HOUR)
        |ORDER BY view_id""") { (s, dir) =>
      import s.implicits._
      import graft.cep.CEP
      implicit val sq = s.sqlContext
      val sentinel = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, Long, String)]
      sentinel.addData((-1L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"),
        -1L, "noise"))
      type Ev = (Long, java.sql.Timestamp, Long, String)
      val ev: Dataset[Ev] = Tables.stream(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        .unionByName(sentinel.toDF()
          .toDF("event_id", "ts", "user_id", "event_type"))
        .withWatermark("ts", "0 seconds")
        .as[(Long, java.sql.Timestamp, Long, String)]
      val p = CEP.Pattern.begin[Ev]("view").where(_._4 == "view")
        .followedBy("purchase").where(_._4 == "purchase")
        .within(scala.concurrent.duration.Duration(1, "hour"))
      implicit val bufEnc: org.apache.spark.sql.Encoder[Seq[Ev]] =
        org.apache.spark.sql.Encoders.kryo[Seq[Ev]]
      val tagged = CEP.patternStreamWithTimeouts(ev, p,
        (e: Ev) => e._3, (e: Ev) => e._2.getTime, (e: Ev) => e._1) {
        (uid, m) => (uid, m.stages("view").head._1, false)
      } { (uid, partial) =>
        (uid, partial.stages("view").head._1, true)
      }
      Drain.toMemory(tagged.toDF("user_id", "view_id", "timed_out"),
          "graft_cep_timeouts", "append")._1
        .filter(col("timed_out") && col("user_id") >= 0)
        .select(col("user_id"), col("view_id"))
        .orderBy(col("view_id"))
    },

    // ----- STREAMING SQL MATCH_RECOGNIZE (the reference's form is
    // streaming-first: DataStreamMatch → CEP operator): the same
    // restricted clause over a watermarked stream, per-key buffer in
    // GroupState, matches sealed by the watermark, state bounded by
    // WITHIN. Same oracle as the batch q142 — batch/stream parity is
    // the hash check. -----
    q("q143_match_recognize_stream",
      """WITH seq AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    lead(event_type) OVER w AS nt, lead(event_id) OVER w AS nid,
        |    lead(ts) OVER w AS nts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id AS view_id, nid AS purchase_id
        |FROM seq WHERE event_type = 'view' AND nt = 'purchase'
        |  AND nts < ts + INTERVAL 1 HOUR
        |ORDER BY view_id""") { (s, dir) =>
      import s.implicits._
      implicit val sq = s.sqlContext
      val sentinel = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, Long, String)]
      sentinel.addData((-1L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"),
        -1L, "noise"))
      val ev = Tables.stream(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        .unionByName(sentinel.toDF()
          .toDF("event_id", "ts", "user_id", "event_type"))
        .withWatermark("ts", "0 seconds")
      val matched = graft.cep.MatchRecognize.stream(ev,
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES A.event_id AS view_id, B.event_id AS purchase_id
          |PATTERN (A B)
          |WITHIN INTERVAL '1' HOUR
          |DEFINE A AS A.event_type = 'view', B AS B.event_type = 'purchase'"""
          .stripMargin)
      Drain.toMemory(matched, "graft_match_stream", "append")._1
        .filter(col("user_id") >= 0)
        .orderBy(col("view_id"))
    },

    // ----- STREAMING MATCH_RECOGNIZE with AFTER MATCH SKIP TO LAST:
    // the q140 view→click+→view chains on a real stream — the skip-to
    // resume fence persists across triggers and the closing view of
    // each emitted match stays in state to reopen the next link.
    // WITHIN 1 DAY (required for sealing) joins the oracle as the
    // first→last span bound. -----
    q("q146_match_skipto_stream",
      """WITH seq AS (SELECT user_id, event_id, event_type, ts,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT a.user_id, a.event_id AS start_id, b.event_id AS end_id
        |FROM seq a JOIN seq b ON a.user_id = b.user_id AND b.rn > a.rn + 1
        |WHERE a.event_type = 'view' AND b.event_type = 'view'
        |  AND b.ts < a.ts + INTERVAL 1 DAY
        |  AND NOT EXISTS (SELECT 1 FROM seq m
        |    WHERE m.user_id = a.user_id AND m.rn > a.rn AND m.rn < b.rn
        |      AND m.event_type <> 'click')
        |ORDER BY a.user_id, start_id""") { (s, dir) =>
      import s.implicits._
      implicit val sq = s.sqlContext
      val sentinel = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, Long, String)]
      sentinel.addData((-1L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"),
        -1L, "noise"))
      val ev = Tables.stream(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        .unionByName(sentinel.toDF()
          .toDF("event_id", "ts", "user_id", "event_type"))
        .withWatermark("ts", "0 seconds")
      val matched = graft.cep.MatchRecognize.stream(ev,
        """PARTITION BY user_id
          |ORDER BY ts, event_id
          |MEASURES V.event_id AS start_id, W.event_id AS end_id
          |AFTER MATCH SKIP TO LAST W
          |PATTERN (V C+ W)
          |WITHIN INTERVAL '1' DAY
          |DEFINE V AS V.event_type = 'view', C AS C.event_type = 'click',
          |       W AS W.event_type = 'view'""".stripMargin)
      Drain.toMemory(matched, "graft_match_skipto_stream", "append")._1
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("start_id"))
    },

    // ----- STREAMING event-time temporal (versioned) table join
    // (TemporalRowtimeJoin.scala:1; q73 is the batch as-of of the same
    // semantics): each purchase joins the signup-rate version valid AT
    // its event time; keyed state holds sorted versions + buffered
    // probes, emission on watermark, superseded versions evicted -----
    q("q122_stream_temporal_join",
      """WITH j AS (SELECT p.event_id AS event_id,
        |  (SELECT s.value FROM events s
        |   WHERE s.user_id = p.user_id AND s.event_type = 'signup'
        |     AND s.ts <= p.ts
        |   ORDER BY s.ts DESC, s.event_id DESC LIMIT 1) AS rate
        |  FROM events p WHERE p.event_type = 'purchase')
        |SELECT event_id, rate FROM j WHERE rate IS NOT NULL
        |ORDER BY event_id""") { (s, dir) =>
      import s.implicits._
      implicit val sq = s.sqlContext
      val sentinel = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
      sentinel.addData((-1L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"),
        -1L, "signup", 0.0))
      val ev = Tables.stream(s, dir, "events")
        .filter(col("event_type").isin("signup", "purchase"))
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .unionByName(sentinel.toDF()
          .toDF("event_id", "ts", "user_id", "event_type", "value"))
      // registered the way the reference's Table API users write it:
      // build.createTemporalTableFunction + probe.joinLateralAsOf
      // (graft.table.Table → the same TemporalJoin.rowTime state op)
      val rates = graft.table.Table(
        ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts"), col("event_id"), col("value")))
        .createTemporalTableFunction("ts", "user_id", seqColumn = "event_id")
      val joined = graft.table.Table(
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id")))
        .joinLateralAsOf(rates, "ts", "user_id", "event_id", "0 seconds")
        .toDF
      Drain.toMemory(joined, "graft_temporal_join", "append")._1
        .filter(col("event_id") >= 0)
        .select(col("event_id"), col("value").as("rate"))
        .orderBy(col("event_id"))
    },

    // ----- STREAMING row-time bounded-RANGE OVER (RowTimeBounded
    // RangeOver.scala; q76 is the per-batch proc-time form): per-row
    // 1-hour trailing sum per user, emitted on watermark, frame-
    // ineligible rows evicted — SQL `RANGE BETWEEN INTERVAL 1 HOUR
    // PRECEDING AND CURRENT ROW` semantics including equal-ts peers -----
    q("q123_stream_over_rowtime",
      """SELECT event_id,
        |  CAST(round(sum(CAST(value AS decimal(18,4)))
        |    OVER (PARTITION BY user_id ORDER BY ts
        |          RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW),
        |    4) AS DOUBLE) AS run_sum
        |FROM events ORDER BY event_id""") { (s, dir) =>
      import s.implicits._
      implicit val sq = s.sqlContext
      val sentinel = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
      sentinel.addData((-1L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"),
        -1L, 0.0))
      val ev = Tables.stream(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
        .unionByName(sentinel.toDF().toDF("event_id", "ts", "user_id", "value"))
        .withWatermark("ts", "0 seconds")
        .select(col("user_id").as("key"), col("ts"),
          unix_micros(col("ts")).as("tsUs"), col("event_id").as("seq"),
          col("value"), col("event_id").as("rowId"))
        .as[RowTimeOver.OvEvent]
      val summed = RowTimeOver.boundedRangeSum(ev, 3600L * 1000000L)
        .toDF("event_id", "sum_raw")
      Drain.toMemory(summed, "graft_over_rowtime", "append")._1
        .filter(col("event_id") >= 0)
        .select(col("event_id"),
          moneyOut(col("sum_raw").cast(DecimalType(38, 4))).as("run_sum"))
        .orderBy(col("event_id"))
    },

    // ----- STREAMING row-time bounded-ROWS OVER (RowTimeBoundedRows
    // Over.scala; count-based sibling of q123): per-row sum of the
    // last 3 rows per user in (ts, event_id) order, emitted on
    // watermark, retract-oldest state bound of nRows−1 history rows -----
    q("q128_stream_over_rows",
      """SELECT event_id,
        |  CAST(round(sum(CAST(value AS decimal(18,4)))
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        |    4) AS DOUBLE) AS run_sum
        |FROM events ORDER BY event_id""") { (s, dir) =>
      import s.implicits._
      implicit val sq = s.sqlContext
      val sentinel = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
      sentinel.addData((-1L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"),
        -1L, 0.0))
      val ev = Tables.stream(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
        .unionByName(sentinel.toDF().toDF("event_id", "ts", "user_id", "value"))
        .withWatermark("ts", "0 seconds")
        .select(col("user_id").as("key"), col("ts"),
          unix_micros(col("ts")).as("tsUs"), col("event_id").as("seq"),
          col("value"), col("event_id").as("rowId"))
        .as[RowTimeOver.OvEvent]
      val summed = RowTimeOver.boundedRowsSum(ev, 3)
        .toDF("event_id", "sum_raw")
      Drain.toMemory(summed, "graft_over_rows", "append")._1
        .filter(col("event_id") >= 0)
        .select(col("event_id"),
          moneyOut(col("sum_raw").cast(DecimalType(38, 4))).as("run_sum"))
        .orderBy(col("event_id"))
    },

    // ----- punctuated watermarks (AssignerWithPunctuatedWatermarks,
    // DataStream.java:926): 'click' events carry each user's event-
    // time clock; every other event seals the moment a click at-or-
    // after it has been seen on its key, however far the delay-based
    // watermark lags. The final sealed set is batching-independent —
    // exactly the events at-or-before the key's LAST click — which is
    // what the oracle computes relationally. -----
    q("q131_punctuated_watermark",
      """SELECT e.event_id FROM events e
        |JOIN (SELECT user_id, max(ts) AS mt FROM events
        |      WHERE event_type = 'click' GROUP BY user_id) m
        |  ON e.user_id = m.user_id
        |WHERE e.event_type <> 'click' AND e.ts <= m.mt
        |ORDER BY e.event_id""") { (s, dir) =>
      import s.implicits._
      val ev = Tables.stream(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .as[(Long, java.sql.Timestamp, Long, String)]
      val sealedEv = new graft.api.StreamOps(ev)
        .keyBy(_._1)
        .punctuatedSeal(_._2.getTime, _._3)(_._4 == "click")
        .map(_._3)
      Drain.toMemory(sealedEv.toDF("event_id"), "graft_punct_seal", "append")._1
        .orderBy(col("event_id"))
    },

    // ----- windowed stream-stream join (WindowJoin, flink-examples
    // WindowJoin.java; JoinedStreams window(...).apply): both sides
    // bucket into the same tumbling window and join on (key, window)
    // equality — state on each side is watermark-bounded to the live
    // window, the documented SS window-join shape -----
    q("q104_windowed_stream_join",
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND (epoch_ms(v.ts) // 3600000) = (epoch_ms(p.ts) // 3600000)
        |ORDER BY view_id, purchase_id""") { (s, dir) =>
      import s.implicits._
      implicit val sq = s.sqlContext
      def sentinel() = {
        val m = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, java.sql.Timestamp, Long)]
        m.addData((-1L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), -1L))
        m.toDF().toDF("event_id", "ts", "user_id")
      }
      val v = Tables.stream(s, dir, "events").filter(col("event_type") === "view")
        .select(col("event_id"), col("ts"), col("user_id"))
        .unionByName(sentinel())
        .withWatermark("ts", "1 minute")
        .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
          window(col("ts"), "1 hour").as("vw"))
      val p = Tables.stream(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("event_id"), col("ts"), col("user_id"))
        .unionByName(sentinel())
        .withWatermark("ts", "1 minute")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          window(col("ts"), "1 hour").as("pw"))
      val joined = v.join(p,
          col("v_user") === col("p_user") && col("vw") === col("pw"))
        .select(col("view_id"), col("purchase_id"))
      Drain.toMemory(joined, "graft_window_join", "append")._1
        .filter(col("view_id") =!= -1L)
        .orderBy(col("view_id"), col("purchase_id"))
    },

    // ----- STREAMING session windows (q42 is the batch run of the
    // same assigner); sentinel flush seals every session under the
    // watermark so append mode emits the complete final state -----
    q("q84_stream_session",
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_s
        |  FROM events),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM g)
        |SELECT user_id, min(ts) AS w_start, count(*) AS n
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, w_start""") { (s, dir) =>
      import s.implicits._
      implicit val sq = s.sqlContext
      val sentinel = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, Long)]
      sentinel.addData((-1L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), -1L))
      val agg = Tables.stream(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"))
        .unionByName(sentinel.toDF().toDF("event_id", "ts", "user_id"))
        .withWatermark("ts", "1 minute")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("session_window.start").as("w_start"), col("n"))
      Drain.toMemory(agg, "graft_stream_sess", "append")._1
        .filter(col("user_id") =!= -1L)
        .orderBy(col("user_id"), col("w_start"))
    },

    // ----- early-firing trigger + count evictor (Triggers.
    // earlyFiringTumble): the FINAL rows are deterministic and
    // oracle-checked — per (user, 6h window) only the LAST 20 events
    // by (ts, value) aggregate (CountEvictor semantics). Values ride
    // as exact integer cents so the evicted sum is bit-identical in
    // any engine; early speculative rows are filtered (their cadence
    // is micro-batch-dependent by design). -----
    q("q98_trigger_final_windows",
      """WITH cents AS (
        |  SELECT user_id, ts, CAST(round(value * 10000) AS BIGINT) AS c,
        |    (epoch_ms(ts) // 21600000) * 21600000 AS w_start
        |  FROM events),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, w_start
        |      ORDER BY ts DESC, c DESC) AS rn
        |  FROM cents)
        |SELECT user_id, w_start, count(*) AS n,
        |  CAST(sum(c) AS DOUBLE) / 10000 AS sum_value
        |FROM ranked WHERE rn <= 20
        |GROUP BY user_id, w_start
        |ORDER BY user_id, w_start""") { (s, dir) =>
      import s.implicits._
      implicit val sq = s.sqlContext
      val sentinel = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp, Double)]
      sentinel.addData((-1L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), 0.0))
      val ev = Tables.stream(s, dir, "events")
        .select(col("user_id"), col("ts"), round(col("value") * 10000).as("c"))
        .unionByName(sentinel.toDF().toDF("user_id", "ts", "c"))
        .withWatermark("ts", "1 minute")
        .as[(Long, java.sql.Timestamp, Double)]
      val fired = graft.streaming.Triggers.earlyFiringTumble(
        ev, windowMillis = 6 * 3600 * 1000L,
        evictor = graft.streaming.Triggers.CountEvictor(20))
      val df = fired.toDF("user_id", "w_start", "n", "sum_cents", "is_final")
      Drain.toMemory(df, "graft_trigger_final", "append")._1
        .filter(col("is_final") && col("user_id") =!= -1L)
        .select(col("user_id"), col("w_start"), col("n"),
          (col("sum_cents") / 10000).as("sum_value"))
        .orderBy(col("user_id"), col("w_start"))
    },

    // ----- keyed running minBy/maxBy on a stream (KeyedStream.java:849)
    // — final state of the continuously-updated extreme rows -----
    q("q86b_stream_minby_maxby",
      """WITH r AS (SELECT user_id, event_id, round(value, 6) AS v FROM events),
        |mx AS (SELECT user_id, event_id AS max_event, v AS max_value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY v DESC, event_id) AS rn FROM r),
        |mn AS (SELECT user_id, event_id AS min_event, v AS min_value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY v, event_id) AS rn FROM r)
        |SELECT mx.user_id, max_event, max_value, min_event, min_value
        |FROM mx JOIN mn ON mx.user_id = mn.user_id
        |WHERE mx.rn = 1 AND mn.rn = 1
        |ORDER BY mx.user_id""") { (s, dir) =>
      // event values are 2-dp, so extreme-value ties are common: break
      // them deterministically by smallest event_id via struct ordering
      val agg = Tables.stream(s, dir, "events")
        .select(col("user_id"), col("event_id"), round(col("value"), 6).as("v"))
        .groupBy(col("user_id"))
        .agg(
          max_by(col("event_id"), struct(col("v"), -col("event_id"))).as("max_event"),
          max(col("v")).as("max_value"),
          min_by(col("event_id"), struct(col("v"), col("event_id"))).as("min_event"),
          min(col("v")).as("min_value"))
      Drain.toMemory(agg, "graft_stream_minmax", "complete")._1
        .orderBy(col("user_id"))
    },

    // ----- exactly-once file sink (StreamingFileSink.java:95 analog):
    // writeStream parquet + checkpointLocation; re-read proves commit -----
    q("q85_stream_file_sink",
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      val base = Dedup.scratchDir("graft-q85")
      val (out, chk) = (s"$base/q85_sink", s"$base/q85_chk")
      Drain(Tables.stream(s, dir, "events")
        .select(col("event_id"), col("event_type"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append"))
      s.read.parquet(out)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    },

    // ----- windowed stream coGroup (CoGroupedStreams.java): views and
    // purchases as two typed streams, coGrouped per (user, 1h tumbling
    // window); both sides' full element lists arrive together, and a
    // window fires even when one side is empty — the outer behavior a
    // windowed join lacks. The sentinel rides the LEFT side (user -1)
    // to seal the final windows. -----
    q("q151_stream_cogroup",
      """WITH e AS (SELECT user_id, event_type,
        |    CAST(floor(epoch_ms(ts) / 3600000) AS BIGINT) * 3600000 AS win
        |  FROM events WHERE event_type IN ('view', 'purchase'))
        |SELECT user_id, win,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS views,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS purchases
        |FROM e GROUP BY user_id, win
        |ORDER BY user_id, win""") { (s, dir) =>
      import s.implicits._
      import graft.api.StreamOps
      implicit val sq = s.sqlContext
      type Ev = (Long, java.sql.Timestamp)
      val sentinel = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, java.sql.Timestamp)]
      sentinel.addData((-1L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00")))
      val base = Tables.stream(s, dir, "events")
      def side(t: String) = base.filter(col("event_type") === t)
        .select(col("user_id").cast("long"), col("ts"))
      val left = new StreamOps(
        side("view").unionByName(sentinel.toDF().toDF("user_id", "ts"))
          .as[(Long, java.sql.Timestamp)])
      val right = new StreamOps(side("purchase").as[(Long, java.sql.Timestamp)])
      val cg = left.coGroup(right)((l: Ev) => l._1, (r: Ev) => r._1)(
        3600 * 1000L, (l: Ev) => l._2.getTime, (r: Ev) => r._2.getTime) {
        (uid, ws, views, purchases) =>
          Iterator((uid, ws, views.size.toLong, purchases.size.toLong))
      }
      Drain.toMemory(cg.toDF("user_id", "win", "views", "purchases"),
          "graft_stream_cogroup", "append")._1
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("win"))
    },

    // ----- keyed running reduce (KeyedStream.java:690 sum/min/max
    // family): per-key associative reduce over the stream, per-trigger
    // emission cadence in complete mode; the final state equals the
    // total per-key reduce. Long fields keep the fold exact in any
    // order. -----
    q("q153_stream_keyed_reduce",
      """SELECT user_id, CAST(max(event_id) AS BIGINT) AS max_event,
        |  count(*) AS n
        |FROM events GROUP BY user_id
        |ORDER BY user_id""") { (s, dir) =>
      import s.implicits._
      import graft.api.StreamOps
      type KV = (Long, Long, Long) // (user_id, event_id max, count)
      val ev = Tables.stream(s, dir, "events")
        .select(col("user_id").cast("long"), col("event_id").cast("long"),
          lit(1L))
        .as[(Long, Long, Long)]
      val reduced = new StreamOps(ev).keyBy(_._1)
        .reduce((a, b) => (a._1, math.max(a._2, b._2), a._3 + b._3))
      Drain.toMemory(reduced.toDF("user_id", "kv"),
          "graft_stream_keyed_reduce", "complete")._1
        .select(col("user_id"), col("kv._2").as("max_event"),
          col("kv._3").as("n"))
        .orderBy(col("user_id"))
    },

    // ----- queryable state (KeyedStream.asQueryableState +
    // QueryableStateClient): per-key aggregate served as a
    // continuously-updated snapshot table, point-queryable by key
    // while the stream runs (QueryableStateSpec exercises the
    // mid-stream get(); here the drained final state is verified
    // against the batch aggregate). -----
    q("q168_queryable_state",
      """SELECT user_id, count(*) AS n,
        |  CAST(round(sum(CAST(value AS decimal(18,4))), 4) AS DOUBLE) AS sum_value,
        |  max(ts) AS last_ts
        |FROM events GROUP BY user_id
        |ORDER BY user_id""") { (s, dir) =>
      val state = Tables.stream(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          moneyOut(sum(col("value").cast(DecimalType(18, 4)))).as("sum_value"),
          max(col("ts")).as("last_ts"))
      val store = QueryableState.asQueryableState(s, "graft_qstate", state)
      store.processAllAvailable()
      // materialize before the serving query stops (eager, and not
      // registered with the session's CacheManager)
      val out = store.snapshot().orderBy(col("user_id")).localCheckpoint()
      store.stop()
      out
    }
  )
}
