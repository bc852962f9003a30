package graft.pipeline

import graft.SparkSpec
import graft.sources.Jdbc
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The crash-safe ingest loop ([[DedupIndex.ingestEos]]): q185's
  * streaming index-ingest composed with ExactlyOnceJdbc's idempotent
  * epoch commit. The schedule mirrors ExactlyOnceJdbcSpec — normal
  * epochs, then an epoch whose PREVIOUS attempt died mid-append — and
  * the day-close commit must land each admitted doc in the index
  * exactly once.
  */
class IngestLoopEosSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftingest;create=true"
  private def props = {
    val p = new java.util.Properties
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }
  private def tmp(prefix: String) = java.nio.file.Files
    .createTempDirectory(prefix).toString

  test("verdicts and admitted docs land exactly once under replayed/partial epochs") {
    implicit val sq = spark.sqlContext
    val idx = tmp("graft-eos-idx")
    // standing corpus: two docs the deltas can collide with
    DedupIndex.save(Seq(
      (1L, "the quick brown fox jumps high"),
      (2L, "lorem ipsum dolor sit amet tree")).toDF("doc_id", "text"), idx)

    val in = MemoryStream[(Long, String)]
    val vt = "INGEST_VERDICTS"
    val at = "INGEST_ADMITTED"
    val q = DedupIndex.ingestEos(spark,
      in.toDF().toDF("doc_id", "text"), idx, url, vt, at,
      tmp("graft-eos-ckpt"), props)
    try {
      // epoch 0: one dup of corpus doc 1, one genuinely new doc
      in.addData((10L, "the quick brown fox jumps high"),
        (11L, "completely novel content arrives here today"))
      q.processAllAvailable()
      def verdicts() = Jdbc.read(spark, url, vt, props)
      def admitted() = Jdbc.read(spark, url, at, props)
      assert(verdicts().count() == 2)
      assert(verdicts().filter(col("doc_id") === 10L && !col("is_new")).count() == 1,
        "near-dup of the corpus must be rejected")
      assert(admitted().select("doc_id").as[Long].collect().toSet == Set(11L),
        "only the novel doc is admitted")

      // CRASH MID-APPEND: a prior attempt of epoch 1 died after
      // appending a partial verdict row — the replay (the real
      // foreachBatch, same batchId) must scrub it and land epoch 1
      // exactly once
      Seq((999L, 0L, Option.empty[Long], true))
        .toDF("doc_id", "n_dups", "keeper", "is_new")
        .withColumn("batch_id", lit(1L))
        .write.mode("append").jdbc(url, vt, props)
      in.addData((12L, "another fresh document streams in now"),
        (13L, "completely novel content arrives here today"))
      q.processAllAvailable()
      assert(verdicts().filter(col("doc_id") === 999L).count() == 0,
        "partial rows of the crashed attempt must be scrubbed")
      assert(verdicts().count() == 4)
      assert(verdicts().select(countDistinct(col("doc_id"))).head.getLong(0) == 4)
      // doc 13 duplicates doc 11's text — but 11 is NOT yet committed
      // to the index (day-close hasn't run), so 13 is admitted too:
      // the frozen-index-within-a-day semantics q185's oracle pins
      assert(admitted().select("doc_id").as[Long].collect().toSet
        == Set(11L, 12L, 13L))
    } finally q.stop()

    // day-close: admitted docs commit to the index exactly once —
    // tomorrow's delta duplicating doc 11 must now be rejected
    DedupIndex.commitAdmitted(spark, idx, url, at, props)
    val verdict = DedupIndex.dedupDelta(spark,
      Seq((20L, "completely novel content arrives here today"))
        .toDF("doc_id", "text"), idx)
      .collect()
    assert(verdict.length == 1 && !verdict(0).getAs[Boolean]("is_new"),
      "doc committed at day-close must dedup tomorrow's twin")

    // day-close IDEMPOTENCE: re-running it (crash-retry, or the next
    // day's close over the same table) must not re-append history —
    // the committed-epoch watermark gates the admitted read. A
    // re-appended index would double n_dups for the twin.
    val bandsBefore = spark.read
      .parquet(s"$idx/bands").count()
    DedupIndex.commitAdmitted(spark, idx, url, at, props)
    assert(spark.read.parquet(s"$idx/bands").count() == bandsBefore,
      "repeated day-close re-appended already-committed docs")
    // docs 11 AND 13 share this text and were BOTH admitted (the
    // frozen-index-within-a-day semantics), so exactly 2 dups; a
    // re-appended history would inflate this to 4
    val v2 = DedupIndex.dedupDelta(spark,
      Seq((21L, "completely novel content arrives here today"))
        .toDF("doc_id", "text"), idx)
      .collect()
    assert(v2.length == 1 && v2(0).getAs[Long]("n_dups") == 2L,
      "duplicate day-close inflated n_dups")
  }

  test("interleaved closes: each epoch commits whole, sub-tables stay consistent") {
    val idx = tmp("graft-close-idx")
    val at = "CLOSE_ADMITTED"
    DedupIndex.save(Seq((1L, "base corpus doc with some words here"))
      .toDF("doc_id", "text"), idx)

    def admit(rows: Seq[(Long, String, Long)]): Unit =
      rows.toDF("doc_id", "text", "batch_id")
        .write.mode("append").jdbc(url, at, props)

    // day 1: epochs 0-1 land, close
    admit(Seq((30L, "alpha beta gamma delta epsilon zeta", 0L),
      (31L, "eta theta iota kappa lambda mu", 1L)))
    DedupIndex.commitAdmitted(spark, idx, url, at, props)
    // day 2: epochs 2-3 land AFTER day 1's close advanced the mark
    // (ExactlyOnceJdbc commits epochs sequentially per stream, so
    // batch_ids are monotonic — the closed window `hwm < b <= newHwm`
    // relies on exactly that; an epoch below an advanced mark cannot
    // appear later). Close again: only 2-3 append.
    admit(Seq((32L, "nu xi omicron pi rho sigma", 2L),
      (33L, "tau upsilon phi chi psi omega", 3L)))
    DedupIndex.commitAdmitted(spark, idx, url, at, props)

    // every admitted doc appears in EVERY sub-table exactly once —
    // the one-snapshot guarantee's observable invariant (pre-r12 the
    // three writes re-read JDBC independently, so a concurrently
    // growing table could yield a doc with bands but no shingles)
    val bandDocs = spark.read.parquet(s"$idx/bands")
      .filter(col("doc_id") >= 30L)
      .select("doc_id").distinct().as[Long].collect().toSet
    val shingleDocs = spark.read.parquet(s"$idx/shingles")
      .filter(col("doc_id") >= 30L)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(bandDocs == Set(30L, 31L, 32L, 33L))
    assert(shingleDocs == bandDocs,
      "bands and shingles disagree on committed docs")
    // exactly once: 4 band rows per doc (one per band), no re-append
    val perDoc = spark.read.parquet(s"$idx/bands")
      .filter(col("doc_id") >= 30L)
      .groupBy("doc_id").count().select("count").as[Long].collect()
    assert(perDoc.forall(_ == 4L), s"re-appended doc bands: ${perDoc.toSeq}")
  }
}
