package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The LSH pair pipeline, the streaming dedup horizons and the
  * cluster-representative choices. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("LSH pairs keep degenerate buckets: boilerplate docs all pair") {
    // 6 identical boilerplate docs (one giant bucket per band) plus a
    // genuine near-dup pair
    val boiler = (0 until 6).map(i => (100L + i, "alpha beta gamma delta epsilon"))
    val docs = (boiler ++ Seq(
      (1L, "one two three four five six"),
      (2L, "one two three four five seven"))).toDF("doc_id", "text")

    val exact = Dedup.lshVerifiedPairs(docs)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    // all boilerplate pairs (15) + the genuine pair
    assert(exact((1L, 2L)) && exact.count(p => p._1 >= 100) == 15)
  }

  test("hashed-shingle verify (r17) is certificate-exact vs the string plan on the real corpus") {
    val docs = graft.Tables.t(spark, sf, "documents")
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_a"), col("doc_b"), round(col("jacc"), 9).as("j"))
      .as[(Long, Long, Double)].collect().toSet
    val hashed = norm(Dedup.lshVerifiedPairs(docs))
    val strings = norm(Dedup.lshVerifiedPairs(docs, forceStringVerify = true))
    assert(hashed.nonEmpty, "no pairs at this sf — spec lost its teeth")
    assert(hashed == strings,
      s"hashed verify diverged: missing=${(strings -- hashed).take(5)}, " +
        s"extra=${(hashed -- strings).take(5)}")
  }

  test("streaming dedup horizon forgets duplicates older than the window") {
    // docs 1 and 200 are near-identical but 199 synthetic seconds
    // apart; docs 210/211 are adjacent near-dups
    val dir = java.nio.file.Files.createTempDirectory("graft_horizon").toString
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (200L, "the quick brown fox jumps over the lazy cat"),
      (210L, "pack my box with five dozen liquor jugs"),
      (211L, "pack my box with five dozen liquor mugs")
    ).toDF("doc_id", "text").coalesce(1)
      .write.parquet(dir + "/documents.parquet")

    val global = StreamingDedup.minhashDedup(spark, dir)._1
      .as[(Long, Long)].collect().toSet
    assert(global == Set((200L, 1L), (211L, 210L)))

    // 60s horizon: doc 1 has aged out when 200 arrives; the adjacent
    // pair still dedups
    val windowed = StreamingDedup.minhashDedup(spark, dir, horizonSeconds = Some(60L))._1
      .as[(Long, Long)].collect().toSet
    assert(windowed == Set((211L, 210L)))
  }

  test("streaming embedding horizon forgets vectors older than the window") {
    // vec 1 and 300 are identical (cosine 1) but 299 synthetic seconds
    // apart; 310/311 are adjacent identicals. Same label → one block.
    val dir = java.nio.file.Files.createTempDirectory("graft_vec_horizon").toString
    val a = Seq(1.0f, 2.0f, 3.0f)
    val b = Seq(-3.0f, 1.0f, 2.0f)
    Seq((1L, 0, a), (300L, 0, a), (310L, 0, b), (311L, 0, b))
      .toDF("vec_id", "label", "embedding").coalesce(1)
      .write.parquet(dir + "/embeddings.parquet")

    // state rows (= live blocks) of the drained stream's final progress
    def stateRows(p: Option[org.apache.spark.sql.streaming.StreamingQueryProgress]): Long =
      p.flatMap(_.stateOperators.headOption.map(_.numRowsTotal)).getOrElse(-1L)

    val (globalDf, globalProgress) =
      StreamingDedup.embeddingNearDup(spark, dir, threshold = 0.9)
    val global = globalDf.as[(Long, Long)].collect().toSet
    assert(global == Set((300L, 1L), (311L, 310L)))
    // no horizon → no eviction: all label blocks stay live
    assert(stateRows(globalProgress) >= 2,
      s"expected live blocks without a horizon, saw ${stateRows(globalProgress)}")

    val (windowedDf, windowedProgress) = StreamingDedup.embeddingNearDup(spark, dir,
      threshold = 0.9, horizonSeconds = Some(60L))
    val windowed = windowedDf.as[(Long, Long)].collect().toSet
    assert(windowed == Set((311L, 310L)))
    // horizon eviction removes quiescent blocks once the watermark
    // passes their members; only the sentinel's pending block survives
    assert(stateRows(windowedProgress) <= 1,
      s"horizon left ${stateRows(windowedProgress)} state rows")
  }

  test("sign-bucket blocking finds cross-label near-dups label blocking misses") {
    // identical vectors under DIFFERENT labels: label blocking can
    // never pair them, hyperplane buckets (label-blind) do
    val dir = java.nio.file.Files.createTempDirectory("graft_vec_lsh").toString
    val v = Seq(1.0f, 2.0f, 3.0f)
    Seq((1L, 0, v), (2L, 1, v))
      .toDF("vec_id", "label", "embedding").coalesce(1)
      .write.parquet(dir + "/embeddings.parquet")

    val byLabel = StreamingDedup.embeddingNearDup(spark, dir, threshold = 0.9)._1
      .as[(Long, Long)].collect().toSet
    assert(byLabel.isEmpty)

    val bySign = StreamingDedup.embeddingNearDup(spark, dir, threshold = 0.9,
      signTables = 4, signBits = 2)._1.as[(Long, Long)].collect().toSet
    assert(bySign == Set((2L, 1L)))
  }

  test("q241 selects the EARLIEST-EPOCH cluster member, not the min id") {
    // one near-dup family: ids 5 (epoch 5 % 3 = 2) and 7 (epoch 1).
    // A min-id keep-list (q133/q138 semantics) keeps 5; the
    // epoch-aware selection must keep 7 — content first seen in
    // epoch 1 is suppressed in epoch 2, whatever the ids say.
    // Stopword-heavy text passes the q138 quality gate; the two
    // variants share most shingles (jacc >= 0.1).
    import spark.implicits._
    val a = "the cat sat on the mat and the dog sat on the mat too"
    val b = "the cat sat on the mat and the dog sat on the mat again"
    val lone = "the bird flew over the hill and the fox ran to the den"
    val rows = graft.Registry.all.find(_.name == "q241_epoch_dedup_select").get
      .fn(spark, writeDocs(Seq((5L, a), (7L, b), (9L, lone))))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2), r.getInt(3)))
      .toMap
    assert(rows.keySet == Set(5L, 7L, 9L))
    assert(rows(5L)._1 == rows(7L)._1, "near-dup pair must share a cluster")
    assert(rows(7L) == (rows(7L)._1, 1, 1), "epoch-1 member must be selected")
    assert(rows(5L)._3 == 0, "the later-epoch (lower-id) member must NOT be selected")
    assert(rows(9L) == (9L, 0, 1), "unclustered survivor selects trivially")
  }

  /** Write a documents.parquet a QueryDef fn can consume as an sf dir. */
  private def writeDocs(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q241").toString
    docs.toDF("doc_id", "text").coalesce(1)
      .write.parquet(dir + "/documents.parquet")
    dir
  }
}
