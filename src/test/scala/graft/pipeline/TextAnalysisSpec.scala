package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** quality() must be a pure function of its Column argument — the
  * regression where the stopword term was hard-wired to a column
  * literally named `text` silently mis-scored derived columns. */
class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("quality scores a renamed column identically to `text`") {
    val docs = Seq("the cat and the hat", "zzz qqq xxx")
      .toDF("body")
      .withColumn("text", col("body")) // decoy with the magic name
    val viaBody = docs.select(TextAnalysis.quality(col("body")).as("q"))
      .as[Double].collect().toSeq
    val viaText = docs.select(TextAnalysis.quality(col("text")).as("q"))
      .as[Double].collect().toSeq
    assert(viaBody == viaText)
    // and on a frame with NO column named text at all
    val only = Seq("the cat and the hat").toDF("body")
      .select(TextAnalysis.quality(col("body")).as("q"))
      .as[Double].collect().head
    assert(only == viaBody.head)
  }

  test("quality distinguishes stopword-rich from stopword-free text") {
    val q = Seq(("a", "the cat and the hat"), ("b", "zzz qqq xxx"))
      .toDF("id", "body")
      .select(col("id"), TextAnalysis.quality(col("body")).as("q"))
      .as[(String, Double)].collect().toMap
    assert(q("a") > q("b"))
  }

  test("redactPii scrubs every category and leaves clean text alone") {
    val dirty = "reach me at jo.na+1@corp.example.org or 555-867-5309, " +
      "ssn 123-45-6789, host 192.168.0.1 says hi"
    val out = Seq(dirty, "no pii here at all")
      .toDF("t").select(TextAnalysis.redactPii(col("t")).as("r"))
      .as[String].collect().toSeq
    assert(out.head ==
      "reach me at [EMAIL] or [PHONE], ssn [SSN], host [IP] says hi")
    assert(out(1) == "no pii here at all")
  }

  test("redactPii: an SSN is never half-eaten by the phone pattern") {
    // 3-2-4 must redact as SSN even when a 3-3-4 phone sits adjacent
    val out = Seq("a 123-45-6789 b 123-456-7890 c")
      .toDF("t").select(TextAnalysis.redactPii(col("t")).as("r"))
      .as[String].collect().head
    assert(out == "a [SSN] b [PHONE] c")
  }

  test("redactPii property: seeded random injections redact exactly, and are idempotent") {
    val r = new scala.util.Random(7)
    def word = (1 to (r.nextInt(7) + 1)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    def digits(n: Int) = (1 to n).map(_ => r.nextInt(10)).mkString
    // each case: a word list where some positions are PII snippets with
    // a known expected token — the oracle is the construction itself
    val cases = (1 to 60).map { _ =>
      val pieces = (1 to (r.nextInt(12) + 3)).map { _ =>
        r.nextInt(6) match {
          case 0 => (s"$word.$word@$word.${Seq("com", "org", "io")(r.nextInt(3))}", "[EMAIL]")
          case 1 => (s"${digits(3)}-${digits(3)}-${digits(4)}", "[PHONE]")
          case 2 => (s"${digits(3)}-${digits(2)}-${digits(4)}", "[SSN]")
          case 3 => (s"${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}", "[IP]")
          case _ => { val w = word; (w, w) }
        }
      }
      (pieces.map(_._1).mkString(" "), pieces.map(_._2).mkString(" "))
    }
    val out = cases.toDF("dirty", "expected")
      .select(col("expected"), TextAnalysis.redactPii(col("dirty")).as("once"))
      .select(col("expected"), col("once"), TextAnalysis.redactPii(col("once")).as("twice"))
      .as[(String, String, String)].collect()
    out.foreach { case (expected, once, twice) =>
      assert(once == expected, "redaction must replace exactly the injected snippets")
      assert(twice == once, "redaction must be idempotent")
    }
  }

  test("q158 append-mode ingest decontamination keeps bounded state") {
    import graft.Registry
    val (streamDf, progress) = TextAnalysis.decontamStream(spark, sf)
    val stateRows = progress.flatMap(_.stateOperators.headOption.map(_.numRowsTotal))
      .getOrElse(-1L)
    val q155 = Registry.all.find(_.name == "q155_decontamination").get
    val a = streamDf.collect().map(_.toSeq).toSeq
    val b = q155.fn(spark, sf).collect().map(_.toSeq).toSeq
    assert(a == b, "streaming decontamination must equal the batch result")
    // sealed (window, doc) groups are evicted as the watermark passes;
    // only the never-sealing sentinel's group may remain live. A
    // complete-mode running aggregate would hold one row per doc.
    assert(stateRows >= 0, "no streaming progress captured")
    assert(stateRows <= 1,
      s"append windowed agg left $stateRows state rows " +
        s"for ${b.size} docs — sealed groups are not being evicted")
  }

  test("q160 bloom prefilter is exact even with a deliberately FP-heavy sketch") {
    import graft.Registry
    val exact = Registry.all.find(_.name == "q155_decontamination").get
      .fn(spark, sf).collect().map(_.toSeq).toSeq
    // 64 bits for thousands of grams — nearly every probe is a false
    // positive; the verify join must still reduce to the exact result
    val fpHeavy = TextAnalysis.decontamBloom(spark, sf, items = 8L, bits = 64L)
      .collect().map(_.toSeq).toSeq
    assert(fpHeavy == exact,
      "bloom false positives must never leak into the decontamination result")
    // and the production sizing agrees too
    val sized = Registry.all.find(_.name == "q160_decontam_bloom").get
      .fn(spark, sf).collect().map(_.toSeq).toSeq
    assert(sized == exact)
  }

  test("packSequences: per-shard packing is shard-count invariant") {
    import graft.Tables
    // docs that land in shard 3 of an 8-way run, packed as part of the
    // full corpus, must get the same (n_tok, seq_id, seq_offset) as
    // the same docs packed ALONE in a 1-way run — i.e. a shard's
    // packing depends only on its own docs, never on shard count or
    // on what the other shards hold.
    val docs = Tables.t(spark, sf, "documents")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_tok", "seq_id", "seq_offset")
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    val full8 = toMap(TextAnalysis.packSequences(docs, 512, nShards = 8)
      .where(col("shard") === 3))
    val alone = toMap(TextAnalysis.packSequences(
      docs.where(col("doc_id") % 8 === 3), 512, nShards = 1))
    assert(full8.nonEmpty, "shard 3 must be non-empty at sf0.001")
    assert(alone == full8,
      "packing of a shard's docs must be independent of the shard count")
    // default shard count (input parallelism) runs and packs every doc
    val dflt = TextAnalysis.packSequences(docs, 512)
    assert(dflt.count() == docs.count())
    // every offset respects the budget, and seq_ids are dense per shard
    val bad = dflt.where(col("seq_offset") < 0 || col("seq_offset") >= 512).count()
    assert(bad == 0, "seq_offset must lie in [0, tokenBudget)")
  }

  test("q156 repetition metrics on a hand-computed looping doc") {
    // "x y x y x y": words=6, bigrams=5 {x y, y x}→distinct 2 → dup2 = 3/5
    // trigrams=4 {x y x, y x y}→2 → dup3 = 2/4; top word 3/6
    val out = Seq((0L, "x y x y x y"), (1L, "a b c d e f"))
      .toDF("doc_id", "text")
    // the same expressions the QueryDef builds (which reads parquet)
    val w = split(col("text"), " ")
    val m = out.withColumn("w", w)
      .select(col("doc_id"),
        (lit(1.0) - size(array_distinct(expr(
          "transform(sequence(0, size(w)-2), i -> concat(w[i], ' ', w[i+1]))")))
          .cast("double") / (size(col("w")) - 1)).as("dup2"),
        (expr("array_max(transform(array_distinct(w), x -> size(filter(w, y -> y = x))))")
          .cast("double") / size(col("w"))).as("topw"))
      .as[(Long, Double, Double)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(math.abs(m(0L)._1 - 0.6) < 1e-9)
    assert(math.abs(m(0L)._2 - 0.5) < 1e-9)
    assert(m(1L)._1 == 0.0)
  }

  test("q193 sealed-window trending keeps bounded state and a windows×3 sink") {
    val (out, progress) = TextAnalysis.trendingStream(spark, sf)
    val stateRows = progress.map(_.stateOperators.toSeq.map(_.numRowsTotal))
      .getOrElse(Seq.empty)
    val rows = out.collect()
    // the sink table holds ONE row per sealed window with a ≤3-element
    // top-k array — the windows × 3 bound (the r11 complete-mode form
    // held windows × vocab and re-materialized it every trigger)
    val sink = spark.table("graft_stream_trending")
    val nWindows = sink.count()
    assert(nWindows > 0 && rows.length <= nWindows * 3,
      s"sink grew beyond windows×3: $nWindows windows, ${rows.length} rows")
    import org.apache.spark.sql.functions.{col, size, max => smax}
    assert(sink.agg(smax(size(col("topk")))).head.getInt(0) <= 3)
    // chained append-mode aggs evict sealed groups: stage-1 live state
    // is the sentinel's never-sealing (window, word) group only, and
    // stage-2 holds at most the sentinel-era remnants — a complete-mode
    // form would hold the full windows × vocab running state
    assert(stateRows.nonEmpty, "no streaming progress captured")
    assert(stateRows.sum <= 2,
      s"sealed groups not evicted: state rows per operator = $stateRows")
    // ranking runs via posexplode of the bounded TopK aggregate —
    // no WindowExec (row_number over w_start) anywhere in the plan
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Window "), s"unexpected WindowExec:\n$plan")
    // per-window ranks are 1..3 by count DESC, word ASC — spot-check
    // the dense shape
    val byWindow = rows.groupBy(_.getTimestamp(0))
    byWindow.values.foreach { ws =>
      val rns = ws.map(_.getInt(3)).sorted
      assert(rns.sameElements(1 to ws.length), s"ranks not dense: ${rns.toSeq}")
      val ns = ws.sortBy(_.getInt(3)).map(_.getLong(2))
      assert(ns.sameElements(ns.sortBy(-(_: Long))), "counts not descending")
    }
  }
}
