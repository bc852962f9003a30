package graft.pipeline

import graft.{QueryDef, QueryModule, Tables}
import graft.streaming.Drain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Text analysis for data-pipeline curation: token counting
  * (whitespace + BPE-ish regex), quality scoring (length/punctuation/
  * stopword ratios → logistic score), n-gram-heuristic language ID,
  * PII redaction, benchmark decontamination, within-doc repetition
  * filtering, and corpus-level n-gram duplication scoring.
  *
  * The per-row stages (stats, redaction, repetition) are pure
  * Catalyst expressions — a map over the corpus at any scale. The
  * corpus-level stages shuffle only small derived frames: the
  * decontamination semi-join broadcasts the (small) eval-set n-gram
  * table so the corpus is never shuffled, and duplication scoring
  * shuffles 8-byte gram hashes with map-side partial aggregation.
  */
object TextAnalysis extends QueryModule {
  import Dedup.{duckH32, h32}

  private val TOKEN_RE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"

  // ----- cross-engine regexes (Java regex on the Spark side, RE2 in
  // DuckDB — this subset parses and matches identically in both) -----
  private val EMAIL_RE = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val SSN_RE = """\b\d{3}-\d{2}-\d{4}\b"""
  private val PHONE_RE = """\b\d{3}-\d{3}-\d{4}\b"""
  private val OCTET = """(?:25[0-5]|2[0-4]\d|1?\d?\d)"""
  private val IP_RE = s"""\\b$OCTET\\.$OCTET\\.$OCTET\\.$OCTET\\b"""

  /** Redact PII in-place: emails, SSNs, phones, IPs → bracketed
    * category tokens. The order fixes ambiguity (an SSN never
    * survives to be half-eaten by the phone pattern). Pure codegen'd
    * regexes — map-only at any scale.
    *
    * COVERAGE: this is the cross-engine-parity subset (each pattern
    * parses and matches identically under Java regex and DuckDB's
    * RE2, which is what makes q154 oracle-checkable), NOT a
    * production PII scrubber. Covered: plain emails; US SSNs
    * (3-2-4 hyphenated); US phones in the hyphenated 3-3-4 form
    * ONLY (no parentheses, dots, spaces, or +country prefixes);
    * IPv4 with range-checked octets 0-255 (so `999.1.2.3` in prose
    * survives; a version string that IS a syntactically valid IPv4,
    * like `1.2.3.4`, is still redacted — indistinguishable by
    * regex). Not covered: IPv6, IBANs, credit cards, names,
    * addresses. A production pipeline should layer a dedicated
    * scrubber; this surface exists so redaction COST and plan shape
    * (pure map, zero shuffle) are measured honestly in the bench. */
  def redactPii(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
      EMAIL_RE, "[EMAIL]"),
      SSN_RE, "[SSN]"),
      PHONE_RE, "[PHONE]"),
      IP_RE, "[IP]")

  /** Watermark sentinel for q158: 2100-01-01T00:00Z as epoch seconds.
    * Guarded at run time against testdata drift (max doc_id must stay
    * below it, and it must dodge the eval-split residue). */
  private val SentinelId = 4102444800L

  /** Distinct word 3-grams on a `w` array column (0-based Spark). */
  private val sparkGrams3 =
    """array_distinct(transform(sequence(0, size(w)-3),
      |  i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])))""".stripMargin

  /** Same in DuckDB (1-based). */
  private val duckGrams3 =
    "list_distinct(list_transform(range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2]))"

  /** The shared decontamination oracle: q155 (broadcast exact set),
    * q158 (streaming ingest), and q160 (bloom prefilter) all compute
    * exactly this relation. */
  private val decontamOracle =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |g AS (SELECT doc_id, $duckGrams3 AS grams FROM w WHERE len(w) >= 3),
       |ev AS (SELECT DISTINCT unnest(grams) AS g FROM g WHERE doc_id % 97 = 0),
       |tr AS (SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS g
       |       FROM g WHERE doc_id % 97 <> 0)
       |SELECT tr.doc_id, CAST(tr.n_grams AS INTEGER) AS n_grams,
       |  count(*) AS n_shared,
       |  round(count(*)::DOUBLE / tr.n_grams, 6) AS contamination
       |FROM tr JOIN ev USING (g)
       |GROUP BY tr.doc_id, tr.n_grams
       |ORDER BY doc_id""".stripMargin

  /** One row per (doc, distinct word 3-gram) — explode is fed the
    * expression INLINE (see the q155 note). */
  private def gramRows(s: SparkSession, dir: String) =
    Tables.t(s, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(sparkGrams3)).as("g"))

  /** Decontamination with a bloom PREFILTER: the scale path for eval
    * suites whose exact n-gram set outgrows a broadcast hash table.
    * The bloom (KBs, `bits` total) ships as a scalar subquery; the
    * corpus probes it map-side and only bloom-surviving grams reach
    * the exact verify join (which AQE sizes — broadcast here, a
    * shuffle join of two post-filter small sides at 100 TB). Bloom
    * FPs are removed by the exact join and FNs cannot happen, so the
    * result equals q155 for ANY sizing — the spec runs it with a
    * deliberately undersized, FP-heavy sketch. */
  private[pipeline] def decontamBloom(s: SparkSession, dir: String,
      items: Long, bits: Long): DataFrame = {
    import graft.functions.Bloom
    val grams = gramRows(s, dir)
    val ev = grams.filter(col("doc_id") % 97 === 0).select(col("g")).distinct()
    val bloom = ev.agg(Bloom.bloomAgg(xxhash64(col("g")), items, bits).as("bf"))
    val tr = grams.filter(col("doc_id") % 97 =!= 0)
    val totals = tr.groupBy(col("doc_id")).agg(count(lit(1)).as("ng"))
    val shared = tr.filter(Bloom.mightContain(bloom, xxhash64(col("g"))))
      .join(ev, "g")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
    totals.join(shared, "doc_id")
      .select(col("doc_id"), col("ng").cast("int").as("n_grams"), col("n_shared"),
        round(col("n_shared").cast("double") / col("ng"), 6).as("contamination"))
      .orderBy(col("doc_id"))
  }

  /** Quality score — logistic over avg word length and stopword ratio
    * (the q58 formula, shared with the curation pipeline q138). Built
    * entirely from the passed Column, so derived or differently-named
    * text expressions score correctly. */
  def quality(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(qualityRaw(text), 6)

  /** The PRE-ROUND teacher sigmoid — factored out (the q210 psiWithP
    * pattern) so the sweep-time quant-guard measures the exact
    * expression every quality() consumer rounds: exp is not
    * IEEE-correctly-rounded, so the round(·,6) boundary is the one
    * cross-engine flip surface this score carries. */
  private[graft] def qualityRaw(
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val w = split(text, " ")
    val awl = length(regexp_replace(text, " ", "")).cast("double") / size(w)
    val stops = filter(w, x => x.isInCollection(Seq("the", "a", "of", "and", "to")))
    val stopRatio = size(stops).cast("double") / size(w)
    lit(1.0) / (lit(1.0) + exp(-(lit(0.2) * awl + lit(2.0) * stopRatio - lit(1.0))))
  }

  /** Same score in DuckDB SQL over a relation exposing `text`. */
  val duckQuality: String =
    """round(1.0 / (1.0 + exp(-(
      |    0.2 * (length(replace(text, ' ', ''))::DOUBLE / len(string_split(text, ' ')))
      |    + 2.0 * (len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a', 'of', 'and', 'to')))::DOUBLE
      |          / len(string_split(text, ' ')))
      |    - 1.0))), 6)""".stripMargin

  /** Pack documents into fixed-token-budget training sequences —
    * the parameterized library surface behind q163.
    *
    * Shape: docs shard by `doc_id % nShards`, then pack WITHIN their
    * shard in doc_id order via a running token cumsum — one shuffle
    * on the shard key, one per-shard window. Each shard packs
    * independently of every other shard (no cross-shard state), so
    * parallelism = nShards at any corpus size and the assignment is
    * reproducible across engines and cluster layouts; a spec pins
    * that per-shard independence. A doc belongs to the sequence in
    * which it STARTS (concatenation-style packing); `seq_offset` is
    * its start position inside that sequence.
    *
    * At 100 TB: pick nShards ≈ cluster cores (the default uses the
    * input's partition count) — per-shard window state is one
    * running long, so shards can be as coarse as memory allows, and
    * more shards only changes WHICH sequence a doc lands in, never
    * the per-shard packing math.
    *
    * @param docs        frame with `doc_id` (non-negative id) and `text`
    * @param tokenBudget tokens per packed sequence (e.g. 4096)
    * @param nShards     shard count; <= 0 → the input's parallelism
    */
  def packSequences(docs: DataFrame, tokenBudget: Int, nShards: Int = 0): DataFrame = {
    require(tokenBudget > 0, s"tokenBudget must be positive, got $tokenBudget")
    import org.apache.spark.sql.expressions.Window
    val shards = if (nShards > 0) nShards else docs.rdd.getNumPartitions.max(1)
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_tok"),
        (col("doc_id") % shards).cast("int").as("shard"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .select(col("doc_id"), col("shard"), col("n_tok"),
        ((col("cum") - col("n_tok")) / tokenBudget).cast("int").as("seq_id"),
        ((col("cum") - col("n_tok")) % tokenBudget).cast("int").as("seq_offset"))
  }

  /** q158's engine: streaming decontamination with append-mode
    * windowed aggregation (see the q158 comment at the `queries`
    * entry). Returns (result, the query's final progress) — the
    * spec's probe that sealed (window, doc) groups really are
    * EVICTED (≤ 1 live state row: only the never-sealing sentinel's).
    * Returning it here, from the run that produced it, avoids any
    * shared mutable state between concurrent runs. */
  private[pipeline] def decontamStream(s: SparkSession,
      dir: String): (DataFrame, Option[StreamingQueryProgress]) = {
    import s.implicits._
    implicit val sq = s.sqlContext
    val docs = Tables.t(s, dir, "documents")
    // sentinel guards against testdata drift: it must stay the max
    // timestamp (else real windows stop sealing) and must dodge the
    // eval-split residue filter. max(doc_id) prices as a parquet
    // footer-stats scan, not a data read.
    val maxId = docs.agg(max(col("doc_id").cast("long"))).head.getLong(0)
    require(maxId < SentinelId,
      s"watermark sentinel $SentinelId no longer exceeds max doc_id " +
        s"$maxId — the regenerated testdata outgrew the sentinel epoch")
    require(SentinelId % 97 != 0,
      "sentinel id collides with the eval-split residue (id % 97 == 0)")
    val evalGrams = docs
      .filter(col("doc_id") % 97 === 0)
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 3)
      .select(explode(expr(sparkGrams3)).as("g")).distinct()
      .withColumn("hit", lit(1))
    val sentinel = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    sentinel.addData((SentinelId, "zsentinela zsentinelb zsentinelc"))
    val stream = Tables.stream(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val hits = stream
      .unionByName(sentinel.toDF().toDF("doc_id", "text"))
      .withColumn("ts", expr("timestamp_seconds(doc_id + 1)"))
      .withWatermark("ts", "0 seconds")
      .filter(col("doc_id") % 97 =!= 0)
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), col("ts"), explode(expr(sparkGrams3)).as("g"))
      .join(broadcast(evalGrams), Seq("g"), "left")
      .groupBy(window(col("ts"), "1 second"), col("doc_id"))
      .agg(count(lit(1)).as("ng"), count(col("hit")).as("n_shared"))
      .drop("window")
    val (sink, progress) = Drain.toMemory(hits, "graft_stream_decontam", "append")
    val out = sink
      .filter(col("n_shared") >= 1)
      .select(col("doc_id"), col("ng").cast("int").as("n_grams"), col("n_shared"),
        round(col("n_shared").cast("double") / col("ng"), 6).as("contamination"))
      .orderBy(col("doc_id"))
    (out, progress)
  }

  /** q243's engine: q240's attribution on q158's sealed-window
    * streaming machinery. Differences from [[decontamStream]]: the
    * eval table carries benchmark provenance (so one gram can
    * attribute to several suites — the join multiplies accordingly),
    * the per-doc gram count rides each exploded row (size of the gram
    * array BEFORE the explode — the multi-benchmark join makes
    * count(*) per doc wrong for n_grams), and the hit join is INNER:
    * clean docs never enter state. The sentinel only needs to reach
    * the watermark NODE (directly above the union) — the watermark
    * advances on observed event times, so dropping the sentinel's
    * grams at the join afterwards is safe where a pushed-down FILTER
    * below the watermark node would not be (the q158 lesson). */
  private[pipeline] def streamContamAttribution(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    implicit val sq = s.sqlContext
    val docs = Tables.t(s, dir, "documents")
    val maxId = docs.agg(max(col("doc_id").cast("long"))).head.getLong(0)
    require(maxId < SentinelId,
      s"watermark sentinel $SentinelId no longer exceeds max doc_id $maxId")
    val evB = docs
      .filter(col("doc_id") % 97 === 0)
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 3)
      .select(concat(lit("bench"),
        expr("(doc_id div 97) % 4").cast("string")).as("benchmark"),
        explode(expr(sparkGrams3)).as("g"))
      .distinct()
      // r18 OPT (guide §1.2): every micro-batch's IncrementalExecution
      // re-runs the batch-side broadcast subtree — materialize the
      // (suite-sized) eval gram table once for all batches
      .localCheckpoint()
    val sentinel = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    sentinel.addData((SentinelId, "zsentinela zsentinelb zsentinelc"))
    val stream = Tables.stream(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val hits = stream
      .unionByName(sentinel.toDF().toDF("doc_id", "text"))
      .withColumn("ts", expr("timestamp_seconds(doc_id + 1)"))
      .withWatermark("ts", "0 seconds")
      .filter(col("doc_id") % 97 =!= 0)
      // r18 OPT (guide §2.5 input skew, the Tables.spread posture for
      // streams): the single-file source gives each micro-batch a 1-2
      // split map side, so the gram explode + probe ran as 2 tasks
      // (MetricsDump: one 4.4 s stage per batch at any core count).
      // One doc-sized exchange buys cluster-wide fan-out for the
      // ~100× bigger exploded stage; deterministic hash keying, and
      // partitioning cannot change the windowed aggregate's result.
      // A production source sizes its own partitions (Kafka topic
      // partitions / many ingest files) — this matters exactly when
      // the source under-fills the cluster.
      .repartition(s.sessionState.conf.numShufflePartitions,
        col("doc_id"))
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 3)
      // r18 OPT (the q155/r8 InferFiltersFromGenerate lesson): the
      // former projected-`gr` + size + explode shape let the inferred
      // size(gr) > 0 filter inline the WHOLE gram expression and push
      // it below the repartition — an interpreted per-row re-eval on
      // the 1-2-task pre-shuffle stage (MetricsDump: 3.7 s there).
      // One INLINE generator carries ng alongside each gram: the
      // lambda binds the array once (a := grams, evaluated once per
      // row), and the inline-expensive shape is exactly the one the
      // rule leaves alone.
      .select(col("doc_id"), col("ts"), explode(expr(
        s"""flatten(transform(array($sparkGrams3), a ->
           |  transform(a, x -> struct(size(a) AS ng, x AS g))))"""
          .stripMargin)).as("p"))
      .select(col("doc_id"), col("ts"), col("p.ng").as("ng"),
        col("p.g").as("g"))
      .join(broadcast(evB), "g")
      .groupBy(window(col("ts"), "1 second"), col("doc_id"),
        col("benchmark"))
      .agg(max(col("ng")).as("ng"), count(lit(1)).as("n_shared"))
      .drop("window")
    Drain.toMemory(hits, "graft_stream_contam_attr", "append")._1
      .select(col("doc_id"), col("benchmark"),
        col("ng").cast("int").as("n_grams"), col("n_shared"),
        round(col("n_shared").cast("double") / col("ng"), 6)
          .as("contamination"))
      .orderBy(col("doc_id"), col("benchmark"))
  }

  /** q193's engine (r12 rework): streaming trending terms with the
    * SEALED-WINDOW shape a 100 TB stream needs, replacing the r11
    * complete-mode form the verdict flagged (memory sink holding
    * windows × vocab every trigger + one row_number task per window
    * buffering that window's whole vocabulary).
    *
    * Two CHAINED append-mode event-time aggregations (Spark's
    * multiple-stateful-operator support):
    *   1. per-(100 s window, word) counts — bounded per-window state,
    *      merged map-side, groups EVICT as the watermark passes
    *      (q158 machinery, sentinel-driven);
    *   2. per-window top-3 via the bounded [[graft.functions.TopK]]
    *      aggregate (string-id variant) over each window's SEALED
    *      counts — ≤ k rows of agg state per window per task, so the
    *      exchange and the sink carry windows × k, never
    *      windows × vocab, and no WindowExec partitions on w_start.
    * The sink table holds one row per sealed window (its top-3
    * array); ranking recovers via posexplode. The watermark sentinel
    * (far-future ts) seals every real window; its own window never
    * seals, so it reaches neither the second aggregation nor the
    * sink.
    *
    * Returns (result, the run's final progress) — the spec's probe
    * that sealed groups really evict (stage-1 live state = the
    * sentinel's window only). */
  private[pipeline] def trendingStream(s: SparkSession, dir: String)
      : (DataFrame, Option[StreamingQueryProgress]) = {
    import s.implicits._
    implicit val sq = s.sqlContext
    val docs = Tables.t(s, dir, "documents")
    val maxId = docs.agg(max(col("doc_id").cast("long"))).head.getLong(0)
    require(maxId < SentinelId,
      s"watermark sentinel $SentinelId no longer exceeds max doc_id $maxId")
    val sentinel = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    sentinel.addData((SentinelId, "zsentinelword"))
    val words = Tables.stream(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .unionByName(sentinel.toDF().toDF("doc_id", "text"))
      .withColumn("ts", expr("timestamp_seconds(doc_id + 1)"))
      .withWatermark("ts", "0 seconds")
      .select(col("ts"), explode(split(lower(col("text")), " ")).as("word"))
    val counts = words
      .groupBy(window(col("ts"), "100 seconds"), col("word"))
      .agg(count(lit(1)).as("n"))
    val top = counts
      .groupBy(window(col("window"), "100 seconds"))
      .agg(graft.functions.TopK.topKStr(3)(
        col("n").cast("double"), col("word")).as("topk"))
    val (sink, progress) = Drain.toMemory(top, "graft_stream_trending", "append")
    val out = sink
      .select(col("window.start").as("w_start"),
        posexplode(col("topk")).as(Seq("pos", "t")))
      .select(col("w_start"), col("t.id").as("word"),
        col("t.score").cast("bigint").as("n"),
        (col("pos") + 1).cast("int").as("rn"))
      .orderBy(col("w_start"), col("rn"))
    (out, progress)
  }

  /** Perplexity gating AT INGEST: arriving docs score against a
    * FROZEN bigram LM (counts trained on the batch corpus — in
    * production, yesterday's corpus snapshot; here the same corpus,
    * making the stream hash-equal to batch q171). Per-bigram terms
    * come from a stream-static equi join against the broadcast count
    * tables; per-doc terms seal in an APPEND-mode event-time-windowed
    * aggregation whose groups evict as the watermark passes — the
    * q158 bounded-state ingest shape. At eval suites / LMs too large
    * to broadcast, the q160 bloom-prefilter escalation applies
    * unchanged. The watermark sentinel survives every filter but
    * carries no LM bigrams, so it seals with n = 0 and the final
    * n ≥ 1 filter drops it. */
  private[pipeline] def perplexityStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sq = s.sqlContext
    val docs = Tables.t(s, dir, "documents")
    val maxId = docs.agg(max(col("doc_id").cast("long"))).head.getLong(0)
    require(maxId < SentinelId,
      s"watermark sentinel $SentinelId no longer exceeds max doc_id $maxId")
    // frozen LM: the batch corpus's bigram/prefix counts (8-byte
    // hashes; word strings never shuffle)
    def bigrams(df: DataFrame) = df
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("ts"),
        explode(expr("sequence(0, size(w)-2)")).as("p"),
        col("w"))
      .select(col("doc_id"), col("ts"), col("p"),
        h32(expr("element_at(w, p+1)")).as("h1"),
        h32(concat(expr("element_at(w, p+1)"), lit(" "),
          expr("element_at(w, p+2)"))).as("hb"))
    // r17 OPT: the frozen LM's two count tables both read the batch
    // bigram frame — materialize it once instead of re-running the
    // split+explode+2×md5 corpus pass per aggregation. r18 (r17
    // ADVICE): the frame is TOKEN-granularity (one row per bigram
    // position), so it is pinned NARROWED to the two 8-byte hash
    // longs its only consumers (the count aggs) read — 16 B/row, the
    // lightest exact representation of the LM's training stream; at
    // corpus sizes where even that breaks executor storage, drop the
    // checkpoint and repay the second corpus pass (recompute is the
    // fallback, never a correctness question).
    val batchBi = bigrams(docs.withColumn("ts", lit(null).cast("timestamp")))
      .select(col("h1"), col("hb"))
      .localCheckpoint()
    val cb = batchBi.groupBy(col("hb")).agg(count(lit(1)).as("cb"))
    val c1 = batchBi.groupBy(col("h1")).agg(count(lit(1)).as("c1"))
    val sentinel = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    sentinel.addData((SentinelId, "zsentinela zsentinelb zsentinelc"))
    val stream = Tables.stream(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val scored = bigrams(stream
        .unionByName(sentinel.toDF().toDF("doc_id", "text"))
        .withColumn("ts", expr("timestamp_seconds(doc_id + 1)"))
        .withWatermark("ts", "0 seconds"))
      .join(broadcast(cb), Seq("hb"), "left")
      .join(broadcast(c1), Seq("h1"), "left")
      .withColumn("term",
        round(log2(col("c1").cast("double") / col("cb")), 6))
      .groupBy(window(col("ts"), "1 second"), col("doc_id"))
      // r17 OPT (the q171/q177 exact-sum device, with a streaming
      // dividend): per-doc state is ONE number + a count instead of a
      // collect_list of every (pos, term) struct — ingest state per
      // group is O(1), not O(doc length), and the sum is exact and
      // order-free, so any micro-batch schedule still equals the
      // batch oracle. r18 OPT: the exact sum runs in LONG MICROS
      // (bit-identical by the q177 floor(·+0.5) argument) — one long
      // of state per group instead of a BigDecimal-backed
      // decimal(38,6) buffer.
      .agg(sum(floor(col("term") * lit(1e6) + lit(0.5)).cast("long"))
        .as("hsum_mic"),
        count(col("term")).as("n"))
      .drop("window")
    Drain.toMemory(scored, "graft_stream_perplexity", "append")._1
      .filter(col("n") >= 1)
      .withColumn("hsum", col("hsum_mic").cast("double") / lit(1e6))
      .select(col("doc_id"), col("n").cast("int").as("n_bigrams"),
        round(col("hsum") / col("n"), 4).as("bits_per_word"))
      .withColumn("keep", (col("bits_per_word") <= 4.95).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** The shared perplexity oracle: q171 (batch) and q172 (the same
    * scoring at ingest against the frozen LM) compute exactly this
    * relation. */
  private lazy val perplexityOracle: String =
    s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |b AS (SELECT doc_id, i AS pos,
       |        ${duckH32("w[i]")} AS h1,
       |        ${duckH32("w[i] || ' ' || w[i+1]")} AS hb
       |      FROM (SELECT doc_id, unnest(range(1, len(w))) AS i, w
       |            FROM w WHERE len(w) >= 2)),
       |cb AS (SELECT hb, count(*) AS c FROM b GROUP BY hb),
       |c1 AS (SELECT h1, count(*) AS c FROM b GROUP BY h1),
       |t AS (SELECT b.doc_id, b.pos,
       |        round(log2(c1.c::DOUBLE / cb.c), 6) AS term
       |      FROM b JOIN cb USING (hb) JOIN c1 USING (h1)),
       |d AS (SELECT doc_id,
       |        CAST(SUM(CAST(term AS DECIMAL(28,6))) AS DOUBLE) AS hsum,
       |        count(*) AS n
       |      FROM t GROUP BY doc_id)
       |SELECT doc_id, CAST(n AS INTEGER) AS n_bigrams,
       |  round(hsum / n, 4) AS bits_per_word,
       |  CAST(round(hsum / n, 4) <= 4.95 AS INTEGER) AS keep
       |FROM d ORDER BY doc_id""".stripMargin

  /** CMS hash row j: md5 digest slice [8j+1, 8j+8] mod 1024 — the
    * Dedup band-hash trick reused as d independent hash functions. */
  private def cmsSlice(j: Int) =
    (conv(substring(md5(col("word")), 8 * j + 1, 8), 16, 10)
      .cast("long") % 1024).as(s"h$j")

  /** Estimate the exact top-20 terms against a (j, b, c) cell table:
    * min over a term's d cells, ordered (n_true DESC, word). Shared
    * by the batch (q180) and streaming (q182) sketches. */
  private def cmsEstimates(w: DataFrame, cms: DataFrame): DataFrame = {
    val top = w.groupBy(col("word")).agg(count(lit(1)).as("n_true"))
      .orderBy(col("n_true").desc, col("word")).limit(20)
    top.select((col("word") +: col("n_true") +: (0 to 3).map(cmsSlice)): _*)
      .select(col("word"), col("n_true"),
        posexplode(array((0 to 3).map(j => col(s"h$j")): _*))
          .as(Seq("j", "b")))
      .join(cms, Seq("j", "b"))
      .groupBy(col("word"), col("n_true"))
      .agg(min(col("c")).as("cms_est"))
      .orderBy(col("n_true").desc, col("word"))
  }

  /** q180/q182's shared oracle: sketch + truth replayed in SQL, so
    * even the CMS overestimates must hash-match. */
  private lazy val cmsOracle: String =
    s"""WITH w AS (SELECT unnest(string_split(lower(text),' ')) AS word
       |           FROM documents),
       |hh AS (SELECT word,
       |  ${(0 to 3).map(j =>
            s"CAST(list_sum(list_transform(range(1,9), hx -> " +
            s"(strpos('0123456789abcdef', substr(md5(word), ${8 * j} + hx, 1))-1)" +
            s" * (2**(4*(8-hx))))) AS BIGINT) % 1024 AS h$j")
           .mkString(",\n       |  ")}
       |  FROM w),
       |cms AS (
       |  SELECT 0 AS j, h0 AS b, count(*) AS c FROM hh GROUP BY h0
       |  UNION ALL SELECT 1, h1, count(*) FROM hh GROUP BY h1
       |  UNION ALL SELECT 2, h2, count(*) FROM hh GROUP BY h2
       |  UNION ALL SELECT 3, h3, count(*) FROM hh GROUP BY h3),
       |tc AS (SELECT word, count(*) AS n_true FROM w GROUP BY word),
       |top AS (SELECT word, n_true FROM tc
       |        ORDER BY n_true DESC, word LIMIT 20),
       |tb AS (SELECT t.word, t.n_true, u.j, u.b FROM top t
       |       JOIN (SELECT DISTINCT word, h0, h1, h2, h3 FROM hh) s
       |         ON s.word = t.word
       |       CROSS JOIN LATERAL (VALUES (0, s.h0), (1, s.h1),
       |                                  (2, s.h2), (3, s.h3)) u(j, b))
       |SELECT tb.word, CAST(tb.n_true AS BIGINT) AS n_true,
       |  CAST(min(cms.c) AS BIGINT) AS cms_est
       |FROM tb JOIN cms ON cms.j = tb.j AND cms.b = tb.b
       |GROUP BY tb.word, tb.n_true
       |ORDER BY n_true DESC, word""".stripMargin

  /** The CMS cells maintained by a streaming aggregation over
    * arriving documents (complete-mode snapshot — the state IS the
    * sketch, 4096 cells bounded for any stream length), then the
    * same estimation join as the batch path. The top-20 truth side
    * is computed batch-side: it is the VERIFICATION harness, not the
    * sketch (a production stream serves estimates for ad-hoc terms). */
  private[pipeline] def cmsStream(s: SparkSession, dir: String): DataFrame = {
    val stream = Tables.stream(s, dir, "documents")
      .select(explode(split(lower(col("text")), " ")).as("word"))
    val cells = stream
      .select((col("word") +: (0 to 3).map(cmsSlice)): _*)
      .select(posexplode(array((0 to 3).map(j => col(s"h$j")): _*))
        .as(Seq("j", "b")))
      .groupBy(col("j"), col("b")).agg(count(lit(1)).as("c"))
    val sink = Drain.toMemory(cells, "graft_stream_cms", "complete")._1
    val w = Tables.t(s, dir, "documents")
      .select(explode(split(lower(col("text")), " ")).as("word"))
    cmsEstimates(w, sink)
  }

  /** BM25 ranked retrieval (q177's operator as a facade), exact.
    * Bm25Spec pins it against the oracle-checked registry result. */
  def bm25TopK(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import graft.functions.TopK
    val contrib = bm25Contrib(s, dir)
    // r17 OPT (guide §2.3 — aggregate before you shuffle): the per-
    // (query, doc) score sums the 6-dp contributions EXACTLY, order-
    // free on both engines, instead of the pre-r17 hash-ordered double
    // fold (collect_list + array_sort + aggregate) — map-side
    // combinable where collect_list shipped every contribution row
    // into one task's buffer.
    // r18 OPT: the exact sum runs in LONG MICROS instead of
    // DECIMAL(28,6) — sum(decimal(28,6)) carries a 38-digit buffer
    // that Spark backs with java BigDecimal (~1.8 µs/row: 8 of q177's
    // 10 s were THIS aggregate, MetricsDump aggTime=8066 ms over the
    // 4.5 M contribution rows). Bit-identical to the decimal sum the
    // oracle computes, by construction: c is round(·, 6), the double
    // nearest to an integer n of micro-units, so c·1e6 lands within
    // ~1e-8 of n and floor(c·1e6 + 0.5) recovers n EXACTLY (never at
    // a half: the error bound is 8 orders below 0.5); Σn fits a long
    // with 10⁴ headroom (|c| ≤ ~25 ⇒ |n| ≤ 2.5e7; group sizes are
    // per-(query, doc) term matches); and for the exact integer sum
    // S < 2⁵³, S.toDouble / 1e6 is the correctly-rounded double of
    // S·10⁻⁶ — the same value CAST(DECIMAL AS DOUBLE) yields. The
    // oracle SQL is UNCHANGED (it keeps the decimal sum).
    contrib.groupBy(col("query_id"), col("doc_id"))
      .agg((sum(floor(col("c") * lit(1e6) + lit(0.5)).cast("long"))
        .cast("double") / lit(1e6)).as("score"))
      .groupBy(col("query_id"))
      .agg(TopK.topK(k)(round(col("score"), 4), col("doc_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("int").as("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** The per-(query, doc, term) contribution frame bm25TopK
    * aggregates: contribution rows are the postings volume entering
    * the score join. */
  private[graft] def bm25Contrib(s: SparkSession, dir: String): DataFrame = {
    // r18 OPT (guide §2.5): spread the single-split scan before the
    // explode+md5 pass — it ran as ONE task at any core count
    val h = Tables.spread(Tables.t(s, dir, "documents"), "doc_id")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
      .withColumn("hw", h32(col("word")))
    val isQ = col("doc_id") % 97 === 0
    // r18 OPT (guide §1.2 — the r17 plan replayed the corpus
    // explode+md5 pass SIX times: qt, corp×2 [df + the join], dl×2
    // [stats + dk], stats again under dk): qt materializes once and
    // feeds both the contribution join and the query-term set below.
    // lazy checkpoints throughout: eager ones execute serially on the
    // driver (one blocking job each), while lazy ones materialize
    // inside the first consuming job, where independent subtrees still
    // run as CONCURRENT stages (guide §2.6) — measured 1.3 s faster
    // here than the eager form
    val qt = h.filter(isQ).select(col("doc_id").as("query_id"), col("hw"))
      .distinct().localCheckpoint(false)
    // r18 OPT (guide §3.2 — prefilter the big side before the join):
    // only postings of terms that appear in SOME query can ever reach
    // the contribution join (it is an inner equi-join on hw), so the
    // corpus explode semi-joins against the broadcast query-term set
    // BEFORE the (doc, term) aggregation — non-query-term instances
    // never enter the tf aggregate, its exchange, the df table or the
    // join. EXACT: dropped terms contribute zero rows by definition,
    // and df for surviving terms counts the same per-term doc set.
    // The query-term set is vocabulary-bounded (Heaps' law), the same
    // broadcast class as the df table the plan already broadcasts.
    val qTerms = qt.select(col("hw")).distinct()
    val corp = h.filter(!isQ)
      .join(broadcast(qTerms), Seq("hw"), "left_semi")
      .groupBy(col("doc_id"), col("hw"))
      .agg(count(lit(1)).as("tf"))
      // r18 OPT: restore parallelism before the EXPANDING contribution
      // join — AQE rightly coalesces this agg's output by bytes
      // (~14 MB → 1-2 partitions), but the per-row fan-out of the join
      // below (~39 queries per posting here) makes per-byte cost huge;
      // the measured result was the 4.5 M-row join+partial-agg stage
      // running on TWO tasks (7 s of CPU serialized — the q177 floor).
      // Hash-repartition on doc_id (shuffle.partitions-sized, 115 k
      // tiny rows) so the expansion stage fills the cluster. The
      // count is EXPLICIT — a bare repartition(col) is advisory and
      // AQE coalesces it straight back by bytes.
      .repartition(s.sessionState.conf.numShufflePartitions,
        col("doc_id"))
      // two consumers (df and the contribution join) — one execution
      .localCheckpoint(false)
    // r17 OPT note: deriving dl from corp (Σ tf — removes the second
    // corpus explode) was tried and MEASURED SLOWER code-vs-code
    // (14.5-15.1 s → 16.7-19.7 s at sf0.1): the doc-length pass
    // partial-aggregates to doc counts map-side (shuffles doc rows,
    // not corpus bytes) and runs as an independent stage, while the
    // corp-derived form serializes behind corp's exchange and re-runs
    // its post-shuffle (doc, term) aggregate. Kept as-is. (And with
    // the r18 prefilter corp no longer sees every term, so dl MUST
    // stay independent.)
    // r18 OPT: dl materializes once for its two consumers (stats, dk).
    val dl = h.filter(!isQ).groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      .localCheckpoint(false)
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    // idf per TERM and the length normalizer per DOC are computed
    // once in their own (tiny) tables, not per posting row — the
    // contribution expression below then runs one multiply + one
    // divide per row instead of a ln() per row. Same operation
    // tree per value, so results are bit-identical to the inline
    // form the oracle uses. idf_raw rides along (projection-only) so
    // the quant-guard can measure the pre-round ln boundary on the
    // exact expression the query rounds — the q210 psiWithP pattern
    val df = corp.groupBy(col("hw")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("hw"), log((col("n_docs") - col("df") + 0.5)
        / (col("df") + 0.5) + 1).as("idf_raw"))
      .select(col("hw"), col("idf_raw"), round(col("idf_raw"), 6).as("idf"))
    val dk = dl.crossJoin(broadcast(stats))
      .select(col("doc_id"), (lit(1.2) *
        (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))).as("k1dl"))
    // join df (tiny, already pruned) onto the query terms FIRST: a
    // dialed-out hot term disappears here, before its postings list
    // is ever read by the corp join — pruning at the cheapest point.
    // r18 OPT: corp is explicitly the STREAMED side and (qt ⋈ df) the
    // broadcast build — the planner's size estimates had it backwards
    // (corp broadcast, the one-partition query table streamed), which
    // ran the entire ~4.5 M-row expansion + partial aggregation as
    // ONE task (MetricsDump: a single 5.5 s task carrying the whole
    // stage); with corp streaming, the expansion runs at the
    // repartitioned parallelism. Inner joins — order/build-side
    // changes cannot alter the result set.
    corp.join(broadcast(qt.join(df, "hw")), "hw")
      .join(broadcast(dk), "doc_id")
      .select(col("query_id"), col("doc_id"), col("hw"), col("idf_raw"),
        (col("idf") * (col("tf") * 2.2 / (col("tf") + col("k1dl"))))
          .as("c_raw"))
      .withColumn("c", round(col("c_raw"), 6))
  }

  override def queries: Seq[QueryDef] = Seq(

    q("q58_text_stats",
      s"""WITH t AS (SELECT doc_id, text, n_chars,
         |    string_split(text, ' ') AS w FROM documents)
         |SELECT doc_id,
         |  CAST(len(w) AS INTEGER) AS n_words,
         |  CAST(len(regexp_extract_all(text, '$TOKEN_RE')) AS INTEGER) AS n_tokens,
         |  round(length(replace(text, ' ', ''))::DOUBLE / len(w), 6) AS avg_word_len,
         |  round(len(list_filter(w, x -> x IN ('the', 'a', 'of', 'and', 'to')))::DOUBLE
         |        / len(w), 6) AS stop_ratio,
         |  round(len(regexp_extract_all(text, '[^A-Za-z0-9 ]'))::DOUBLE
         |        / n_chars, 6) AS punct_ratio,
         |  round(len(regexp_extract_all(text, '[0-9]'))::DOUBLE / n_chars, 6) AS digit_ratio,
         |  round(1.0 / (1.0 + exp(-(
         |    0.2 * (length(replace(text, ' ', ''))::DOUBLE / len(w))
         |    + 2.0 * (len(list_filter(w, x -> x IN ('the', 'a', 'of', 'and', 'to')))::DOUBLE / len(w))
         |    - 1.0))), 6) AS quality,
         |  CASE WHEN len(list_filter(w, x -> x IN ('the', 'a', 'of', 'and', 'to'))) > 0 THEN 'en'
         |       WHEN len(list_filter(w, x -> x IN ('der', 'und', 'die', 'das'))) > 0 THEN 'de'
         |       WHEN len(list_filter(w, x -> x IN ('le', 'et', 'la', 'les'))) > 0 THEN 'fr'
         |       ELSE 'unknown' END AS lang_guess
         |FROM t ORDER BY doc_id""") { (s, dir) =>
      val w = split(col("text"), " ")
      def stops(words: String*) =
        size(expr(s"filter(w, x -> x IN (${words.map("'" + _ + "'").mkString(", ")}))"))
      val en = stops("the", "a", "of", "and", "to")
      val awl = length(regexp_replace(col("text"), " ", "")).cast("double") / size(col("w"))
      val stopRatio = en.cast("double") / size(col("w"))
      Tables.t(s, dir, "documents")
        .withColumn("w", w)
        .select(col("doc_id"),
          size(col("w")).as("n_words"),
          expr(s"CAST(size(regexp_extract_all(text, '$TOKEN_RE', 0)) AS INT)").as("n_tokens"),
          round(awl, 6).as("avg_word_len"),
          round(stopRatio, 6).as("stop_ratio"),
          round(expr("size(regexp_extract_all(text, '[^A-Za-z0-9 ]', 0))").cast("double")
            / col("n_chars"), 6).as("punct_ratio"),
          round(expr("size(regexp_extract_all(text, '[0-9]', 0))").cast("double")
            / col("n_chars"), 6).as("digit_ratio"),
          round(lit(1.0) / (lit(1.0) + exp(-(lit(0.2) * awl + lit(2.0) * stopRatio - lit(1.0)))), 6)
            .as("quality"),
          when(en > 0, "en")
            .when(stops("der", "und", "die", "das") > 0, "de")
            .when(stops("le", "et", "la", "les") > 0, "fr")
            .otherwise("unknown").as("lang_guess"))
        .orderBy(col("doc_id"))
    },

    // ----- deterministic content-hash split assignment: every doc
    // lands in train/val/test by a hash of its CONTENT (80/10/10), so
    // the split is reproducible across runs, engines and cluster
    // sizes, and a re-ingested duplicate always lands in the same
    // split (no train/test leakage from dedup misses). Pure map —
    // no shuffle, no RNG state. -----
    q("q125_hash_split",
      """SELECT doc_id, CAST(h % 100 AS INTEGER) AS bucket,
        |  CASE WHEN h % 100 < 80 THEN 'train'
        |       WHEN h % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  CAST(list_sum(list_transform(range(1,9),
        |    hx -> (strpos('0123456789abcdef', substr(md5(text), hx, 1))-1)
        |          * (2**(4*(8-hx))))) AS BIGINT) AS h
        |  FROM documents)
        |ORDER BY doc_id""") { (s, dir) =>
      val h = conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), (h % 100).cast("int").as("bucket"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
        .orderBy(col("doc_id"))
    },

    // ----- PII redaction: scrub emails / phones / SSNs / IPs before
    // a corpus ships to training. The synthetic corpus carries no PII,
    // so each doc first gets deterministic PII derived from its own
    // doc_id (both engines derive identically); the operator under
    // test is the redaction itself — per-category match counts plus
    // the hash of the scrubbed text. Pure per-row regexes, no
    // shuffle: a map over the corpus at any scale. -----
    q("q154_pii_redaction",
      s"""WITH d AS (SELECT doc_id,
         |  text || ' contact user' || doc_id || '@example.com'
         |    || CASE WHEN doc_id % 3 = 0 THEN ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
         |         || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
         |    || CASE WHEN doc_id % 5 = 0 THEN ' ssn ' || lpad(((doc_id*7) % 1000)::VARCHAR, 3, '0')
         |         || '-' || lpad((doc_id % 100)::VARCHAR, 2, '0')
         |         || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
         |    || CASE WHEN doc_id % 7 = 0 THEN ' from 10.' || (doc_id % 256)::VARCHAR
         |         || '.0.' || ((doc_id*3) % 256)::VARCHAR ELSE '' END AS dirty
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(dirty, '$EMAIL_RE')) AS INTEGER) AS n_email,
         |  CAST(len(regexp_extract_all(dirty, '$PHONE_RE')) AS INTEGER) AS n_phone,
         |  CAST(len(regexp_extract_all(dirty, '$SSN_RE')) AS INTEGER) AS n_ssn,
         |  CAST(len(regexp_extract_all(dirty, '$IP_RE')) AS INTEGER) AS n_ip,
         |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(dirty,
         |      '$EMAIL_RE', '[EMAIL]', 'g'),
         |      '$SSN_RE', '[SSN]', 'g'),
         |      '$PHONE_RE', '[PHONE]', 'g'),
         |      '$IP_RE', '[IP]', 'g')) AS clean_hash
         |FROM d ORDER BY doc_id""") { (s, dir) =>
      val id = col("doc_id")
      def pad(c: org.apache.spark.sql.Column, n: Int) = lpad(c.cast("string"), n, "0")
      val dirty = concat(
        col("text"), lit(" contact user"), id.cast("string"), lit("@example.com"),
        when(id % 3 === 0, concat(lit(" call 555-"), pad(id % 1000, 3),
          lit("-"), pad(id % 10000, 4))).otherwise(""),
        when(id % 5 === 0, concat(lit(" ssn "), pad((id * 7) % 1000, 3),
          lit("-"), pad(id % 100, 2), lit("-"), pad(id % 10000, 4))).otherwise(""),
        when(id % 7 === 0, concat(lit(" from 10."), (id % 256).cast("string"),
          lit(".0."), ((id * 3) % 256).cast("string"))).otherwise(""))
      def n(re: String) = size(regexp_extract_all(col("dirty"), lit(re), lit(0)))
      Tables.t(s, dir, "documents")
        .select(id, dirty.as("dirty"))
        .select(id,
          n(EMAIL_RE).as("n_email"), n(PHONE_RE).as("n_phone"),
          n(SSN_RE).as("n_ssn"), n(IP_RE).as("n_ip"),
          md5(redactPii(col("dirty"))).as("clean_hash"))
        .orderBy(id)
    },

    // ----- q240: contamination ATTRIBUTION report (r15 verdict item
    // 6 — q155 emits per-doc verdicts; the report a curation team
    // actually files says WHICH benchmark each hit leaks from): the
    // eval set carries its suite provenance (benchmark = 'bench' ||
    // (doc_id div 97) % 4 here — in production the eval-suite name
    // column), the eval gram table keeps one row per (benchmark,
    // gram), and every contaminated training doc reports one row PER
    // BENCHMARK it shares grams with. Same scale shape as q155: the
    // eval table is broadcast (suites are tiny by definition), the
    // corpus is scanned once per frame and never shuffled, and the
    // per-(doc, benchmark) hit count combines map-side. A gram shared
    // by two suites attributes to BOTH — attribution is about which
    // eval sets are compromised, not about double-counting grams. -----
    q("q240_contamination_attribution",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (SELECT doc_id, $duckGrams3 AS grams FROM w WHERE len(w) >= 3),
         |ev AS (SELECT DISTINCT 'bench' || ((doc_id // 97) % 4) AS benchmark,
         |         unnest(grams) AS g
         |       FROM g WHERE doc_id % 97 = 0),
         |tr AS (SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS g
         |       FROM g WHERE doc_id % 97 <> 0)
         |SELECT tr.doc_id, ev.benchmark,
         |  CAST(tr.n_grams AS INTEGER) AS n_grams,
         |  count(*) AS n_shared,
         |  round(count(*)::DOUBLE / tr.n_grams, 6) AS contamination
         |FROM tr JOIN ev USING (g)
         |GROUP BY tr.doc_id, ev.benchmark, tr.n_grams
         |ORDER BY doc_id, benchmark""") { (s, dir) =>
      val grams = gramRows(s, dir)
      val ev = grams.filter(col("doc_id") % 97 === 0)
        .select(concat(lit("bench"),
          expr("(doc_id div 97) % 4").cast("string")).as("benchmark"),
          col("g"))
        .distinct()
      val tr = grams.filter(col("doc_id") % 97 =!= 0)
      val ng = tr.groupBy(col("doc_id")).agg(count(lit(1)).as("ng"))
      tr.join(broadcast(ev), "g")
        .groupBy(col("doc_id"), col("benchmark"))
        .agg(count(lit(1)).as("n_shared"))
        .join(ng, "doc_id")
        .select(col("doc_id"), col("benchmark"),
          col("ng").cast("int").as("n_grams"), col("n_shared"),
          round(col("n_shared").cast("double") / col("ng"), 6)
            .as("contamination"))
        .orderBy(col("doc_id"), col("benchmark"))
    },

    // ----- q243: contamination attribution AT INGEST — q240's
    // streaming twin, on q158's machinery: arriving docs explode to
    // n-grams carrying their own per-doc gram count, INNER-join the
    // broadcast (benchmark, gram) eval table (an unmatched doc never
    // enters state — the gate most arrivals pass through for free),
    // and per-(1s-window, doc, benchmark) counts finalize in an
    // append-mode event-time aggregation that seals and EVICTS as the
    // watermark passes — bounded state on an unbounded ingest stream.
    // The sentinel survives to the watermark node (its grams then
    // drop at the join, AFTER its timestamp was observed — the
    // watermark advances on observed event times, not on rows
    // reaching the sink). Identical result to batch q240, so it
    // shares the oracle. -----
    q("q243_stream_contam_attribution",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (SELECT doc_id, $duckGrams3 AS grams FROM w WHERE len(w) >= 3),
         |ev AS (SELECT DISTINCT 'bench' || ((doc_id // 97) % 4) AS benchmark,
         |         unnest(grams) AS g
         |       FROM g WHERE doc_id % 97 = 0),
         |tr AS (SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS g
         |       FROM g WHERE doc_id % 97 <> 0)
         |SELECT tr.doc_id, ev.benchmark,
         |  CAST(tr.n_grams AS INTEGER) AS n_grams,
         |  count(*) AS n_shared,
         |  round(count(*)::DOUBLE / tr.n_grams, 6) AS contamination
         |FROM tr JOIN ev USING (g)
         |GROUP BY tr.doc_id, ev.benchmark, tr.n_grams
         |ORDER BY doc_id, benchmark""") { (s, dir) =>
      streamContamAttribution(s, dir)
    },

    // ----- benchmark decontamination: flag training docs sharing any
    // word n-gram with a held-out eval set (doc_id % 97 = 0 here; in
    // production the eval suites). The eval-set n-gram table is tiny
    // relative to the corpus, so it is broadcast — the corpus is never
    // shuffled, scanned once, and the only aggregation is the
    // map-side-combinable per-doc hit count. n=3 on this 31-word
    // synthetic vocabulary ≈ the discriminating power of the 8–13-gram
    // checks used on natural text. -----
    q("q155_decontamination", decontamOracle) { (s, dir) =>
      // explode(expr) directly — NEVER explode a pre-projected array
      // column: InferFiltersFromGenerate turns that into size()/
      // isnotnull() filters carrying the whole gram expression,
      // re-evaluated per row in an interpreted Filter (7× — PLANS.md
      // r8). Grams are distinct per doc, so n_grams = the post-join
      // row count per doc under a LEFT join against the eval set.
      val grams = gramRows(s, dir)
      val ev = grams.filter(col("doc_id") % 97 === 0)
        .select(col("g")).distinct().withColumn("hit", lit(1))
      grams.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(ev), Seq("g"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("ng"), count(col("hit")).as("n_shared"))
        .filter(col("n_shared") >= 1)
        .select(col("doc_id"), col("ng").cast("int").as("n_grams"), col("n_shared"),
          round(col("n_shared").cast("double") / col("ng"), 6).as("contamination"))
        .orderBy(col("doc_id"))
    },

    // ----- within-doc repetition filter: duplicate-bigram/-trigram
    // fraction and top-word mass flag boilerplate/looping generations.
    // Array expressions only — zero shuffle. The top-word scan is
    // O(distinct·len) per doc; documents are bounded (n_chars ≤ a few
    // KB here), and at 100 TB the stage stays embarrassingly
    // parallel. -----
    q("q156_repetition_filter",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |m AS (SELECT doc_id,
        |  1.0 - len(list_distinct(list_transform(range(1, len(w)), i -> w[i]||' '||w[i+1])))::DOUBLE
        |      / (len(w) - 1) AS dup2,
        |  1.0 - len(list_distinct(list_transform(range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2])))::DOUBLE
        |      / (len(w) - 2) AS dup3,
        |  list_max(list_transform(list_distinct(w), x -> len(list_filter(w, y -> y = x))))::DOUBLE
        |      / len(w) AS topw
        |  FROM w WHERE len(w) >= 3)
        |SELECT doc_id, round(dup2, 6) AS dup2_frac, round(dup3, 6) AS dup3_frac,
        |  round(topw, 6) AS top_word_ratio,
        |  CAST(CASE WHEN dup2 > 0.06 OR topw > 0.2 THEN 1 ELSE 0 END AS INTEGER) AS repetitive
        |FROM m ORDER BY doc_id""") { (s, dir) =>
      val dup2 = lit(1.0) -
        size(array_distinct(expr("transform(sequence(0, size(w)-2), i -> concat(w[i], ' ', w[i+1]))")))
          .cast("double") / (size(col("w")) - 1)
      val dup3 = lit(1.0) -
        size(array_distinct(expr("transform(sequence(0, size(w)-3), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))")))
          .cast("double") / (size(col("w")) - 2)
      val topw = expr("array_max(transform(array_distinct(w), x -> size(filter(w, y -> y = x))))")
        .cast("double") / size(col("w"))
      Tables.t(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), dup2.as("dup2"), dup3.as("dup3"), topw.as("topw"))
        .select(col("doc_id"),
          round(col("dup2"), 6).as("dup2_frac"),
          round(col("dup3"), 6).as("dup3_frac"),
          round(col("topw"), 6).as("top_word_ratio"),
          when(col("dup2") > 0.06 || col("topw") > 0.2, 1).otherwise(0).as("repetitive"))
        .orderBy(col("doc_id"))
    },

    // ----- corpus-level n-gram duplication score: per doc, the
    // fraction of its distinct 3-grams that occur in ≥2 documents —
    // the standard "duplicated n-gram fraction" corpus-QC signal.
    // Grams shuffle as 8-byte md5-slice hashes (never strings); the
    // doc-frequency groupBy partially aggregates map-side, and the
    // join back is hash-partitioned on the same key so the df frame
    // is not re-shuffled. Hash collisions merge grams identically in
    // both engines (oracle replays the slice); widen the slice for a
    // 100 TB corpus. -----
    q("q157_crossdoc_ngram_dup",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (SELECT doc_id, $duckGrams3 AS grams FROM w WHERE len(w) >= 3),
         |e AS (SELECT doc_id, len(grams) AS n_grams, ${duckH32("unnest(grams)")} AS gh FROM g),
         |df AS (SELECT gh, count(*) AS df FROM e GROUP BY gh)
         |SELECT e.doc_id, CAST(e.n_grams AS INTEGER) AS n_grams,
         |  CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS INTEGER) AS n_dup,
         |  round(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END)::DOUBLE / e.n_grams, 6) AS dup_frac
         |FROM e JOIN df USING (gh)
         |GROUP BY e.doc_id, e.n_grams
         |ORDER BY doc_id""") { (s, dir) =>
      // explode(expr) inline (see q155 note); per-doc distinct grams
      // mean n_grams = the per-doc row count after the df join (the
      // join never drops rows), so no array size is carried around
      val e = Tables.t(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), explode(expr(sparkGrams3)).as("g"))
        .select(col("doc_id"), h32(col("g")).as("gh"))
      val df = e.groupBy(col("gh")).agg(count(lit(1)).as("df"))
      e.join(df, "gh")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("ng"),
          sum(when(col("df") >= 2, 1).otherwise(0)).as("ndup"))
        .select(col("doc_id"), col("ng").cast("int").as("n_grams"),
          col("ndup").cast("int").as("n_dup"),
          round(col("ndup").cast("double") / col("ng"), 6).as("dup_frac"))
        .orderBy(col("doc_id"))
    },

    // ----- decontamination AT INGEST: the same eval-overlap check on
    // a document STREAM. The eval suite is static (batch side,
    // broadcast); arriving docs explode to n-grams, left-join the
    // broadcast table, and per-doc counts finalize in an APPEND-mode
    // event-time-windowed aggregation: a doc's grams all carry its
    // own timestamp, so its (1s-window, doc) group seals as soon as
    // the watermark passes it and is EVICTED from state — bounded
    // state on an unbounded ingest stream, unlike a complete-mode
    // running aggregate whose state grows with every doc ever seen.
    // The far-future sentinel (StreamingDedup's discipline: it must
    // survive every pushed-down filter — id ≡ 35 mod 97, 3 words —
    // and, being the max timestamp, never seals itself) drives the
    // watermark past the last real document. Identical result to
    // batch q155, so it shares the oracle. -----
    q("q158_stream_decontam", decontamOracle) { (s, dir) =>
      decontamStream(s, dir)._1
    },

    // ----- quota sampling for training-mix balancing: cap each
    // (language, length-band) stratum at k docs, ranked by content
    // hash so the subsample is deterministic, reproducible across
    // engines/cluster sizes, and unbiased w.r.t. arrival order.
    // Executed with the bounded TopK AGGREGATE, not a window: the
    // window form range-shuffles and sorts every candidate row per
    // stratum, while the aggregate keeps ≤ k rows of state per task
    // (map-side combine) — the exchange carries strata × k rows, not
    // the corpus. Rank key = the first 13 md5 hex chars as a 52-bit
    // int (exact in the aggregate's double score; both engines rank
    // by the SAME 52-bit key + doc_id, so even slice collisions
    // agree). PlanSpec: no Window in the plan. -----
    q("q159_quota_sample",
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id,
        |  CASE WHEN len(list_filter(w, x -> x IN ('the','a','of','and','to'))) > 0 THEN 'en'
        |       ELSE 'unknown' END AS lang,
        |  CAST(len(w) // 20 AS INTEGER) AS len_band,
        |  CAST(list_sum(list_transform(range(1, 14),
        |    hx -> (strpos('0123456789abcdef', substr(md5(text), hx, 1))-1)
        |          * (2**(4*(13-hx))))) AS BIGINT) AS h52 FROM t),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang, len_band
        |                                   ORDER BY h52, doc_id) AS rn FROM g)
        |SELECT doc_id, lang, len_band, CAST(rn AS INTEGER) AS rn
        |FROM r WHERE rn <= 30 ORDER BY doc_id""") { (s, dir) =>
      import graft.functions.TopK
      val lang = when(
        expr("size(filter(w, x -> x IN ('the', 'a', 'of', 'and', 'to')))") > 0, "en")
        .otherwise("unknown")
      val h52 = conv(substring(md5(col("text")), 1, 13), 16, 10).cast("long")
      Tables.t(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .select(col("doc_id"), lang.as("lang"),
          expr("CAST(size(w) div 20 AS INT)").as("len_band"),
          h52.as("h52"))
        .groupBy(col("lang"), col("len_band"))
        // TopK orders score DESC — negate the 52-bit key for ASC
        .agg(TopK.topK(30)(-col("h52").cast("double"), col("doc_id")).as("top"))
        .select(col("lang"), col("len_band"), posexplode(col("top")))
        .select(col("col.id").as("doc_id"), col("lang"), col("len_band"),
          (col("pos") + 1).cast("int").as("rn"))
        .orderBy(col("doc_id"))
    },

    // ----- decontamination with a BLOOM prefilter (see decontamBloom
    // above): ~8 bits/item ≈ 2% FP; exactness restored by the verify
    // join, so the oracle is q155's. -----
    q("q160_decontam_bloom", decontamOracle) { (s, dir) =>
      decontamBloom(s, dir, items = 1000000L, bits = 8000000L)
    },

    // ----- curation gate AT INGEST: quality score + repetition
    // metrics + PII scrub verdict per arriving document — the
    // streaming sibling of the batch q138 keep-list's quality stage.
    // Every column is a pure expression, so the stream op is
    // STATELESS (no watermark, no aggregation, nothing to seal):
    // the gate runs at any ingest rate with zero state, the shape a
    // 100 TB/day pipeline wants for its first pass. -----
    q("q161_stream_curation_gate",
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
        |m AS (SELECT doc_id,
        |  round(1.0 / (1.0 + exp(-(
        |    0.2 * (length(replace(text, ' ', ''))::DOUBLE / len(w))
        |    + 2.0 * (len(list_filter(w, x -> x IN ('the', 'a', 'of', 'and', 'to')))::DOUBLE / len(w))
        |    - 1.0))), 6) AS quality,
        |  1.0 - len(list_distinct(list_transform(range(1, len(w)), i -> w[i]||' '||w[i+1])))::DOUBLE
        |      / (len(w) - 1) AS dup2,
        |  list_max(list_transform(list_distinct(w), x -> len(list_filter(w, y -> y = x))))::DOUBLE
        |      / len(w) AS topw,
        |  md5(text) AS clean_hash
        |  FROM t WHERE len(w) >= 3)
        |SELECT doc_id, quality, round(dup2, 6) AS dup2_frac, clean_hash,
        |  CAST(CASE WHEN quality > 0.5 AND dup2 <= 0.06 AND topw <= 0.2
        |       THEN 1 ELSE 0 END AS INTEGER) AS keep
        |FROM m ORDER BY doc_id""") { (s, dir) =>
      val stream = Tables.stream(s, dir, "documents")
      val dup2 = lit(1.0) -
        size(array_distinct(expr("transform(sequence(0, size(w)-2), i -> concat(w[i], ' ', w[i+1]))")))
          .cast("double") / (size(col("w")) - 1)
      val topw = expr("array_max(transform(array_distinct(w), x -> size(filter(w, y -> y = x))))")
        .cast("double") / size(col("w"))
      val gated = stream
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), quality(col("text")).as("quality"),
          dup2.as("dup2"), topw.as("topw"),
          md5(redactPii(col("text"))).as("clean_hash"))
        .select(col("doc_id"), col("quality"), round(col("dup2"), 6).as("dup2_frac"),
          col("clean_hash"),
          when(col("quality") > 0.5 && col("dup2") <= 0.06 && col("topw") <= 0.2, 1)
            .otherwise(0).as("keep"))
      Drain.toMemory(gated, "graft_stream_gate", "append")._1.orderBy(col("doc_id"))
    },

    // ----- embedding QC: per-vector dimension / L2 norm / zero- and
    // NaN-detection — the validation pass an embedding ingest runs
    // before vectors enter dedup or ANN (a wrong-dim or zero vector
    // poisons cosine math silently). Pure expressions over the
    // vector, no shuffle; the norm left-folds in array order with
    // every element cast to double first, so both engines sum in the
    // same order at the same precision. -----
    q("q162_embedding_qc",
      """SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
        |  round(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))), 6) AS l2_norm,
        |  CAST(CASE WHEN list_sum(list_transform(embedding,
        |       x -> CASE WHEN x = 0 THEN 0 ELSE 1 END)) = 0 THEN 1 ELSE 0 END AS INTEGER) AS is_zero,
        |  CAST(CASE WHEN len(list_filter(embedding, x -> isnan(x::DOUBLE))) > 0
        |       THEN 1 ELSE 0 END AS INTEGER) AS has_nan,
        |  CAST(CASE WHEN len(embedding) = 64 THEN 1 ELSE 0 END AS INTEGER) AS dim_ok
        |FROM embeddings ORDER BY vec_id""") { (s, dir) =>
      Tables.t(s, dir, "embeddings")
        .select(col("vec_id"),
          size(col("embedding")).as("dim"),
          round(graft.functions.VecMath.vec_norm(col("embedding")), 6)
            .as("l2_norm"),
          when(expr("size(filter(embedding, x -> x != 0F))") === 0, 1).otherwise(0).as("is_zero"),
          when(expr("size(filter(embedding, x -> isnan(CAST(x AS DOUBLE))))") > 0, 1).otherwise(0).as("has_nan"),
          when(size(col("embedding")) === 64, 1).otherwise(0).as("dim_ok"))
        .orderBy(col("vec_id"))
    },

    // ----- sequence packing: assign documents to fixed-token-budget
    // training sequences. Deterministic distributed shape: docs shard
    // by id hash, pack within their shard in id order via a running
    // token cumsum (one shuffle on the shard key; each shard's window
    // is independent, so parallelism = #shards at any corpus size,
    // and the assignment is reproducible across engines and cluster
    // layouts — no greedy global state). A doc belongs to the
    // sequence in which it STARTS (concatenation-style packing);
    // offset = its start position inside that sequence. Budget 512
    // proxy-tokens here; at a real 4k/8k context the same plan
    // holds. -----
    q("q163_sequence_packing",
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
        |           CAST(doc_id % 8 AS INTEGER) AS shard FROM documents),
        |c AS (SELECT *, sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |        ROWS UNBOUNDED PRECEDING) AS cum FROM t)
        |SELECT doc_id, shard, n_tok,
        |  CAST((cum - n_tok) // 512 AS INTEGER) AS seq_id,
        |  CAST((cum - n_tok) % 512 AS INTEGER) AS seq_offset
        |FROM c ORDER BY doc_id""") { (s, dir) =>
      // oracle pin: shards fixed at 8, budget 512 proxy-tokens; the
      // parameterized surface is packSequences above
      packSequences(Tables.t(s, dir, "documents"), tokenBudget = 512, nShards = 8)
        .orderBy(col("doc_id"))
    },

    // ----- quality-weighted mixture sampling: accept each doc with
    // probability sqrt(quality) — the temperature-flattening trick a
    // training-mix pipeline uses to up/down-weight sources without a
    // global sampler. The acceptance draw is DETERMINISTIC: u = the
    // doc's 52-bit content hash scaled to [0,1) (exact in a double,
    // identical in both engines), so the subsample is reproducible
    // across engines, cluster sizes, and reruns — and it is MAP-ONLY:
    // no shuffle, no state, no driver randomness, the first-pass
    // shape at any corpus size. Changing the exponent (or making it
    // per-source) retunes the mixture without changing the plan. -----
    q("q165_weighted_mixture_sample",
      s"""WITH m AS (SELECT doc_id, $duckQuality AS quality,
         |  CAST(list_sum(list_transform(range(1, 14),
         |    hx -> (strpos('0123456789abcdef', substr(md5(text), hx, 1))-1)
         |          * (2**(4*(13-hx))))) AS BIGINT) AS h52
         |  FROM documents)
         |SELECT doc_id, quality, round(sqrt(quality), 6) AS weight,
         |  round(h52 / 4503599627370496.0, 6) AS u
         |FROM m WHERE h52 / 4503599627370496.0 < sqrt(quality)
         |ORDER BY doc_id""") { (s, dir) =>
      val h52 = conv(substring(md5(col("text")), 1, 13), 16, 10).cast("long")
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), quality(col("text")).as("quality"),
          (h52 / lit(4503599627370496.0)).as("u")) // / 2^52: exact
        .filter(col("u") < sqrt(col("quality")))
        .select(col("doc_id"), col("quality"),
          round(sqrt(col("quality")), 6).as("weight"),
          round(col("u"), 6).as("u"))
        .orderBy(col("doc_id"))
    },

    // ----- text normalization: NFC unicode composition (the codegen'd
    // graft.functions.NormalizeUnicode expression) + control-char
    // strip + whitespace-run collapse — the canonical first pass of a
    // curation pipeline: without it the same grapheme in composed and
    // decomposed form defeats exact dedup, MinHash shingles and
    // tokenizer vocab lookups. The synthetic corpus is ASCII, so each
    // doc is first dirtied deterministically (every 'e' decomposed to
    // e+U+0301, a tab/BEL/double-space tail appended) identically in
    // both engines; the operator under test is the cleanup. Pure
    // map — no shuffle at any corpus size; DuckDB's nfc_normalize
    // replays the composition for the oracle. -----
    q("q169_text_normalize",
      """WITH d AS (SELECT doc_id,
        |  regexp_replace(text, 'e', 'e' || chr(769), 'g')
        |    || chr(9) || chr(7) || ' cafe' || chr(769) || '  fin' AS dirty
        |  FROM documents),
        |n AS (SELECT doc_id, dirty,
        |  trim(regexp_replace(regexp_replace(nfc_normalize(dirty),
        |    '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
        |    '[ \t]+', ' ', 'g')) AS clean_text
        |  FROM d)
        |SELECT doc_id, clean_text,
        |  CAST(length(dirty) AS INTEGER) AS n_in,
        |  CAST(length(clean_text) AS INTEGER) AS n_out
        |FROM n ORDER BY doc_id""") { (s, dir) =>
      import graft.functions.NormalizeUnicode
      val dirty = concat(regexp_replace(col("text"), "e", "e\u0301"),
        lit("\t\u0007 cafe\u0301  fin"))
      Tables.t(s, dir, "documents")
        .withColumn("dirty", dirty)
        .withColumn("clean_text", trim(regexp_replace(regexp_replace(
          NormalizeUnicode.nfc(col("dirty")),
          "[\\x00-\\x08\\x0B-\\x1F\\x7F]", ""), "[ \t]+", " ")))
        .select(col("doc_id"), col("clean_text"),
          length(col("dirty")).cast("int").as("n_in"),
          length(col("clean_text")).cast("int").as("n_out"))
        .orderBy(col("doc_id"))
    },

    // ----- exact duplicated-substring REMOVAL (the span-cutting dedup
    // of Lee et al. 2022, "Deduplicating Training Data Makes Language
    // Models Better", relationalized at word granularity): any word
    // 5-gram appearing in ≥2 distinct docs marks its positions; runs
    // of marked positions merge into spans (gaps-and-islands over the
    // sorted position array); spans are cut from the text. Unlike
    // doc-level dedup (q50/q133) this removes boilerplate INSIDE
    // otherwise-unique docs. Scale shape = q157's: grams travel as
    // 8-byte hashes with map-side combine; the duplicated-gram set is
    // small and AQE broadcasts it for the join-back; covered-position
    // sets stay per-doc arrays (no corpus-wide state). The map-only
    // gram scan is recomputed for the join-back rather than cached —
    // at 100 TB recomputing a scan beats materializing it. 32-bit
    // hash slice = the shared Dedup contract; widen to the full
    // digest at corpus scale, same plan. -----
    q("q170_substring_dedup",
      s"""WITH w AS (SELECT doc_id, text, string_split(text,' ') AS w FROM documents),
         |g AS (SELECT doc_id, unnest(range(1, len(w)-5+2)) AS p, w
         |      FROM w WHERE len(w) >= 5),
         |hh AS (SELECT doc_id, p,
         |         ${duckH32("array_to_string(w[p:p+4], ' ')")} AS h FROM g),
         |dup AS (SELECT h FROM hh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |st AS (SELECT DISTINCT doc_id, p FROM hh JOIN dup USING (h)),
         |cv AS (SELECT DISTINCT doc_id, p + o AS pos FROM st
         |       CROSS JOIN (SELECT unnest(range(5)) AS o) t),
         |pd AS (SELECT doc_id, list_sort(list(pos)) AS cov FROM cv GROUP BY doc_id)
         |SELECT w.doc_id,
         |  CAST(len(w.w) AS INTEGER) AS n_words,
         |  CAST(coalesce(len(pd.cov), 0) AS INTEGER) AS n_cut,
         |  CAST(CASE WHEN pd.cov IS NULL THEN 0
         |       ELSE len(list_filter(range(1, len(pd.cov)+1),
         |                i -> i = 1 OR pd.cov[i] != pd.cov[i-1] + 1)) END AS INTEGER)
         |    AS n_spans,
         |  CASE WHEN pd.cov IS NULL THEN w.text
         |       ELSE coalesce(array_to_string(list_filter(list_transform(
         |         range(1, len(w.w)+1),
         |         i -> CASE WHEN list_contains(pd.cov, i) THEN NULL ELSE w.w[i] END),
         |         x -> x IS NOT NULL), ' '), '') END AS clean_text
         |FROM w LEFT JOIN pd ON pd.doc_id = w.doc_id
         |ORDER BY w.doc_id""") { (s, dir) =>
      val K = 5
      val docs = Tables.t(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
      val grams = docs.filter(size(col("w")) >= K)
        .select(col("doc_id"), col("w"),
          explode(expr(s"sequence(0, size(w)-$K)")).as("p"))
        .select(col("doc_id"), col("p"),
          h32(concat_ws(" ", expr(s"slice(w, p+1, $K)"))).as("h"))
      val dup = grams.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select(col("h"))
      // no distinct on (doc_id, p): each position carries exactly one
      // gram hash, so the dup join preserves uniqueness — a distinct
      // here costs a full extra exchange (seen in the r9 plan dump)
      // and collect_set dedups positions anyway
      val cov = grams.join(dup, "h")
        .select(col("doc_id"), explode(expr(s"sequence(p, p+$K-1)")).as("pos"))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("pos"))).as("cov"))
      docs.join(cov, Seq("doc_id"), "left")
        .withColumn("cov", coalesce(col("cov"), typedLit(Seq.empty[Int])))
        .select(col("doc_id"),
          size(col("w")).as("n_words"),
          size(col("cov")).as("n_cut"),
          expr("""IF(size(cov) = 0, 0, size(filter(sequence(0, size(cov)-1),
                 |  i -> IF(i = 0, true,
                 |          element_at(cov, i+1) != element_at(cov, i) + 1))))"""
            .stripMargin).as("n_spans"),
          expr("""array_join(filter(transform(sequence(0, size(w)-1),
                 |  q -> IF(array_contains(cov, q), NULL, element_at(w, q+1))),
                 |  x -> x IS NOT NULL), ' ')""".stripMargin).as("clean_text"))
        .orderBy(col("doc_id"))
    },

    // ----- perplexity filtering (the CCNet recipe, Wenzek et al.
    // 2019, relationalized): train a bigram LM on the corpus itself,
    // score every doc by average surprisal bits/word under
    // p(w2|w1) = c(w1,w2)/c(w1·), drop the high-perplexity tail
    // (garbled/outlier text). Scale shape: bigrams travel as 8-byte
    // md5-slice hashes from the scan on (strings never shuffle), both
    // count aggs map-side combine, the count join-back is hash-keyed,
    // and the per-doc score is ONE reassembly shuffle. Cross-engine
    // exactness: each log2 term rounds to 6 dp, terms re-assemble in
    // POSITION ORDER on both engines (array_sort struct / list_sort
    // struct_pack) and fold left-to-right, so the fp sum is
    // bit-identical under any partitioning. -----
    q("q171_perplexity_filter", perplexityOracle) { (s, dir) =>
      // r17 OPT: exact-decimal sum of the 6-dp surprisal terms (the
      // q177 device) — order-free on both engines and map-side
      // combinable, where the former position-ordered double fold
      // shipped every term row into a collect_list buffer. Fold-vs-
      // decimal fp delta ~1e-13 against a 4-dp output round; oracle
      // computes the same exact decimal sum.
      // r18 OPT: exact sum in LONG MICROS instead of decimal(28,6) —
      // bit-identical by the q177 floor(·+0.5) argument (terms are
      // 6-dp values ≤ ~25 bits/word; see bm25TopK), without the
      // BigDecimal-backed agg buffer's ~1.8 µs/row cost. Oracle SQL
      // unchanged (decimal sum).
      perplexityTermsRaw(Tables.t(s, dir, "documents"))
        .select(col("doc_id"), round(col("raw"), 6).as("term"))
        .groupBy(col("doc_id"))
        .agg((sum(floor(col("term") * lit(1e6) + lit(0.5)).cast("long"))
          .cast("double") / lit(1e6)).as("hsum"),
          count(lit(1)).as("n"))
        .select(col("doc_id"), col("n").cast("int").as("n_bigrams"),
          round(col("hsum") / col("n"), 4).as("bits_per_word"))
        .withColumn("keep", (col("bits_per_word") <= 4.95).cast("int"))
        .orderBy(col("doc_id"))
    },

    // ----- the same scoring AT INGEST (stream hash-equal to q171 —
    // the q155↔q158 pattern): arriving docs score against the frozen
    // batch-trained LM via broadcast stream-static joins; per-doc
    // groups seal in the append-mode windowed agg and evict with the
    // watermark, so ingest state stays bounded on an unbounded
    // stream. -----
    q("q172_stream_perplexity", perplexityOracle) { (s, dir) =>
      perplexityStream(s, dir)
    },

    // ----- vocabulary extraction + OOV-rate scoring: the top-V
    // corpus words become the vocabulary (the tokenizer-coverage
    // question: how much of each doc a fixed vocab explains); every
    // doc scores its out-of-vocabulary word rate against it. Scale
    // shape: the word count is the classic map-side-combined
    // wordcount; the top-V selection is the bounded TopK aggregate
    // over (count, wordhash) — partial k-buffers per partition, the
    // exchange carries partitions×V rows, never the vocabulary; the
    // tiny vocab set broadcasts back for the per-doc OOV join. Ranking
    // ties break on the 8-byte word hash (both engines derive it
    // identically), so the cut at V is total-ordered. V=16 of this
    // corpus's 31 distinct words keeps both sides of the boundary
    // populated. -----
    q("q174_vocab_oov",
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS word
         |           FROM documents),
         |h AS (SELECT doc_id, word, ${duckH32("word")} AS hw FROM w),
         |cnt AS (SELECT hw, count(*) AS c FROM h GROUP BY hw),
         |vocab AS (SELECT hw FROM cnt
         |          ORDER BY c DESC, hw ASC LIMIT 16),
         |scored AS (SELECT h.doc_id, count(*) AS n_words,
         |    sum(CASE WHEN v.hw IS NULL THEN 1 ELSE 0 END) AS n_oov
         |  FROM h LEFT JOIN vocab v ON v.hw = h.hw
         |  GROUP BY h.doc_id)
         |SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
         |  CAST(n_oov AS INTEGER) AS n_oov,
         |  round(n_oov::DOUBLE / n_words, 6) AS oov_rate
         |FROM scored ORDER BY doc_id""") { (s, dir) =>
      import graft.functions.TopK
      val words = Tables.t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .withColumn("hw", h32(col("word")))
      val vocab = words.groupBy(col("hw")).agg(count(lit(1)).as("c"))
        // TopK orders (score DESC, id ASC) — exactly (c DESC, hw ASC)
        .agg(TopK.topK(16)(col("c").cast("double"), col("hw")).as("top"))
        .select(explode(col("top")).as("t"))
        .select(col("t.id").as("vhw"))
      words.join(broadcast(vocab), col("hw") === col("vhw"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(when(col("vhw").isNull, 1).otherwise(0)).as("n_oov"))
        .select(col("doc_id"), col("n_words").cast("int").as("n_words"),
          col("n_oov").cast("int").as("n_oov"),
          round(col("n_oov").cast("double") / col("n_words"), 6).as("oov_rate"))
        .orderBy(col("doc_id"))
    },

    // ----- DSIR data selection (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling" — public paper,
    // relationalized): score every raw-pool doc by its importance
    // weight toward a target distribution, estimated over HASHED
    // BIGRAM BUCKETS (B=256): per-bucket log-ratio of add-1-smoothed
    // target vs raw probabilities, summed per doc and normalized by
    // length; keep docs that look target-like. The target here is the
    // doc_id % 97 == 0 split (the decontamination convention), the
    // raw pool everything else. Scale shape: bucket stats are two
    // map-side-combined 256-group aggregations + one 1-row totals
    // aggregate (broadcast — never a driver collect); the 256-row
    // term table broadcasts into the per-doc scoring join, and the
    // per-doc fp sum reassembles in position order on both engines
    // (bit-identical under any partitioning — the q171 machinery). -----
    q("q175_dsir_select",
      s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
         |b AS (SELECT doc_id, i AS pos,
         |        ${duckH32("w[i] || ' ' || w[i+1]")} % 256 AS bkt
         |      FROM (SELECT doc_id, unnest(range(1, len(w))) AS i, w
         |            FROM w WHERE len(w) >= 2)),
         |tc AS (SELECT bkt, count(*) AS c FROM b WHERE doc_id % 97 = 0 GROUP BY bkt),
         |rc AS (SELECT bkt, count(*) AS c FROM b WHERE doc_id % 97 <> 0 GROUP BY bkt),
         |tot AS (SELECT (SELECT count(*) FROM b WHERE doc_id % 97 = 0) AS tt,
         |               (SELECT count(*) FROM b WHERE doc_id % 97 <> 0) AS tr),
         |terms AS (SELECT u.bkt,
         |    round(log2(((coalesce(tc.c, 0) + 1)::DOUBLE / (tot.tt + 256))
         |             / ((coalesce(rc.c, 0) + 1)::DOUBLE / (tot.tr + 256))), 6) AS term
         |  FROM (SELECT DISTINCT bkt FROM b) u
         |  LEFT JOIN tc ON tc.bkt = u.bkt LEFT JOIN rc ON rc.bkt = u.bkt, tot),
         |d AS (SELECT b.doc_id,
         |        list_reduce(list_transform(
         |          list_sort(list(struct_pack(p := b.pos, t := terms.term))),
         |          s -> s.t), (a, x) -> a + x) AS lw,
         |        count(*) AS n
         |      FROM b JOIN terms ON terms.bkt = b.bkt
         |      WHERE b.doc_id % 97 <> 0
         |      GROUP BY b.doc_id)
         |SELECT doc_id, CAST(n AS INTEGER) AS n_bigrams,
         |  round(lw / n, 4) + 0 AS dsir_logw,
         |  CAST(round(lw / n, 4) >= -0.2 AS INTEGER) AS keep
         |FROM d ORDER BY doc_id""") { (s, dir) =>
      // r17 OPT: the bucket frame feeds five consumers (target/raw
      // counts, totals, the distinct bucket list, per-doc scoring) —
      // materialize once
      val b = dsirBuckets(Tables.t(s, dir, "documents")).localCheckpoint()
      val terms = dsirTermsRaw(b)
        .select(col("bkt"), round(col("raw"), 6).as("term"))
      b.filter(!(col("doc_id") % 97 === 0))
        .join(broadcast(terms), "bkt")
        .groupBy(col("doc_id"))
        .agg(expr(
          """aggregate(transform(array_sort(collect_list(struct(p, term))),
            |  s -> s.term), CAST(0 AS DOUBLE), (a, x) -> a + x)""".stripMargin)
          .as("lw"),
          count(lit(1)).as("n"))
        .select(col("doc_id"), col("n").cast("int").as("n_bigrams"),
          // + 0.0 normalizes IEEE signed zero (-0.0 -> 0.0): the two
          // engines disagree on round()'s zero sign for tiny negatives
          (round(col("lw") / col("n"), 4) + lit(0.0)).as("dsir_logw"))
        .withColumn("keep", (col("dsir_logw") >= -0.2).cast("int"))
        .orderBy(col("doc_id"))
    },

    // ----- BM25 ranked retrieval (Robertson/Spärck Jones, public):
    // the retrieval primitive a curation stack uses for
    // decontamination triage and near-dup adjudication. Query docs
    // are the eval split (doc_id % 97 == 0, the decontamination
    // convention); every query scores the raw pool via the INVERTED
    // INDEX shape — query terms equi-join corpus postings on the
    // term hash, so cost is Σ (query term postings), never
    // queries × corpus. Per-(query, doc) scores sum per-term BM25
    // contributions (k1 = 1.2, b = 0.75, the standard constants),
    // each rounded 6 dp and summed as EXACT decimals (r17: order-free
    // on both engines, map-side combinable); top-3 per query via the
    // bounded TopK aggregate (score DESC, doc_id ASC). At 100 TB the
    // postings join hash-partitions on the term — the classic
    // sharded-index layout — and df/avgdl are tiny broadcast aggs. -----
    q("q177_bm25_topk",
      s"""WITH w AS (SELECT doc_id, unnest(string_split(lower(text),' ')) AS word
         |           FROM documents),
         |h AS (SELECT doc_id, ${duckH32("word")} AS hw FROM w),
         |corp AS (SELECT doc_id, hw, count(*) AS tf FROM h
         |         WHERE doc_id % 97 <> 0 GROUP BY doc_id, hw),
         |dl AS (SELECT doc_id, count(*) AS dl FROM h
         |       WHERE doc_id % 97 <> 0 GROUP BY doc_id),
         |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         |df AS (SELECT hw, count(*) AS df FROM corp GROUP BY hw),
         |qt AS (SELECT DISTINCT doc_id AS query_id, hw FROM h
         |       WHERE doc_id % 97 = 0),
         |contrib AS (
         |  SELECT qt.query_id, corp.doc_id, corp.hw,
         |    round(round(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1), 6)
         |      * (corp.tf * 2.2 / (corp.tf + 1.2 *
         |          (0.25 + 0.75 * dl.dl / stats.avgdl))), 6) AS c
         |  FROM qt JOIN corp ON corp.hw = qt.hw
         |  JOIN df ON df.hw = qt.hw
         |  JOIN dl ON dl.doc_id = corp.doc_id, stats),
         |scored AS (
         |  SELECT query_id, doc_id,
         |    CAST(SUM(CAST(c AS DECIMAL(28,6))) AS DOUBLE) AS score
         |  FROM contrib GROUP BY query_id, doc_id),
         |ranked AS (SELECT query_id, doc_id, round(score, 4) AS score,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY round(score, 4) DESC, doc_id) AS rn FROM scored)
         |SELECT query_id, doc_id, score, CAST(rn AS INTEGER) AS rn
         |FROM ranked WHERE rn <= 3
         |ORDER BY query_id, rn""") { (s, dir) =>
      bm25TopK(s, dir)
    },

    // ----- model-free text clustering for mix balancing: each doc
    // becomes a 64-bucket hashed term-frequency vector (feature
    // hashing — Weinberger et al. 2009, public) and routes to the
    // most cosine-similar of k = 4 seed docs (the first doc_ids, the
    // deterministic-init convention the k-means family uses). The
    // vectors never materialize outside their partition: one
    // (doc, bucket) count agg, one per-doc ordered fold into the
    // dense array, then a map over broadcast seeds — zero corpus
    // shuffle beyond the tf agg, the [[Similarity]] assignment
    // contract. Ties break to the lowest seed id; 6-dp rounding
    // makes the argmax engine-identical. -----
    q("q178_text_cluster",
      s"""WITH w AS (SELECT doc_id, unnest(string_split(lower(text),' ')) AS word
         |           FROM documents),
         |cnt AS (SELECT doc_id, ${duckH32("word")} % 64 AS b, count(*) AS c
         |        FROM w GROUP BY 1, 2),
         |grid AS (SELECT d.doc_id, r.b
         |         FROM (SELECT DISTINCT doc_id FROM documents) d
         |         CROSS JOIN (SELECT unnest(range(64)) AS b) r),
         |vec AS (SELECT g.doc_id,
         |          list_transform(list_sort(list(struct_pack(p := g.b,
         |            c := coalesce(cnt.c, 0)::DOUBLE))), s -> s.c) AS v
         |        FROM grid g LEFT JOIN cnt
         |          ON cnt.doc_id = g.doc_id AND cnt.b = g.b
         |        GROUP BY g.doc_id),
         |nrm AS (SELECT doc_id, sqrt(list_sum(list_transform(v, x -> x * x))) AS n
         |        FROM vec),
         |seeds AS (SELECT doc_id AS seed, v FROM vec
         |          WHERE doc_id IN (SELECT doc_id FROM documents
         |                           ORDER BY doc_id LIMIT 4)),
         |sim AS (SELECT d.doc_id, s.seed,
         |          round(list_sum(list_transform(range(1, 65),
         |              i -> d.v[i] * s.v[i]))
         |            / (nd.n * ns.n), 6) AS cos
         |        FROM vec d CROSS JOIN seeds s
         |        JOIN nrm nd ON nd.doc_id = d.doc_id
         |        JOIN nrm ns ON ns.doc_id = s.seed)
         |SELECT doc_id, seed AS cluster, cos AS sim
         |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY cos DESC, seed) AS rk FROM sim)
         |WHERE rk = 1
         |ORDER BY doc_id""") { (s, dir) =>
      import graft.functions.VecMath
      val cnt = Tables.t(s, dir, "documents")
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
        .select(col("doc_id"), (h32(col("word")) % 64).cast("int").as("b"))
        .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).cast("double").as("c"))
      // dense 64-dim vector: ordered fold over the (bucket, count)
      // pairs with missing buckets zero-filled — per-doc, no grid join
      val vec = cnt.groupBy(col("doc_id"))
        .agg(expr(
          """transform(sequence(0, 63), i -> coalesce(
            |  element_at(map_from_entries(collect_list(struct(b, c))), i),
            |  CAST(0 AS DOUBLE)))""".stripMargin).as("v"))
        .withColumn("n", sqrt(VecMath.vec_dot(col("v"), col("v"))))
      val seeds = vec.orderBy(col("doc_id")).limit(4)
        .select(col("doc_id").as("seed"), col("v").as("sv"), col("n").as("sn"))
      vec.crossJoin(broadcast(seeds))
        .select(col("doc_id"),
          round(VecMath.vec_dot(col("v"), col("sv"))
            / (col("n") * col("sn")), 6).as("cos"),
          col("seed"))
        .groupBy(col("doc_id"))
        .agg(min(struct(-col("cos"), col("seed"))).as("m"),
          max(col("cos")).as("sim"))
        .select(col("doc_id"), col("m.seed").as("cluster"), col("sim"))
        .orderBy(col("doc_id"))
    },

    // ----- n-gram novelty: the fraction of a doc's distinct char
    // 3-grams whose FIRST corpus occurrence (lowest doc_id) is the
    // doc itself — high novelty = fresh content, low = assembled from
    // seen fragments; mix builders use it to favor novel text after
    // dedup has removed outright copies. The gram table materializes
    // ONCE (localCheckpoint — the explode+md5 pass is the dominant
    // cost and must not run twice), then two map-side-combined aggs
    // read it: per-doc gram counts, and per-gram min-owner collapsed
    // to per-doc novel counts. Everything per-gram reduces inside the
    // partial agg — a hot gram ("the", ≈ one row per document) is
    // combined down to one row per map task before any shuffle, and
    // the only join is doc-cardinality. The r10 window-min variant
    // (min over Window.partitionBy(gh)) was −28% at sf0.1 but put a
    // hot gram's entire corpus row set into ONE WindowExec task — the
    // skew shape sf0.1 can't surface; PlanSpec now forbids it. -----
    q("q179_novelty_score",
      s"""WITH g AS (SELECT doc_id,
         |    unnest(list_distinct(list_transform(range(1, length(text)-1),
         |      i -> ${duckH32("substr(text, i, 3)")}))) AS gh
         |  FROM documents),
         |own AS (SELECT gh, min(doc_id) AS owner FROM g GROUP BY gh),
         |sc AS (SELECT g.doc_id, count(*) AS n_grams,
         |    sum(CASE WHEN own.owner = g.doc_id THEN 1 ELSE 0 END) AS n_novel
         |  FROM g JOIN own ON own.gh = g.gh GROUP BY g.doc_id)
         |SELECT doc_id, CAST(n_grams AS INTEGER) AS n_grams,
         |  CAST(n_novel AS INTEGER) AS n_novel,
         |  round(n_novel::DOUBLE / n_grams, 6) AS novelty
         |FROM sc ORDER BY doc_id""") { (s, dir) =>
      import graft.functions.CharNGrams.char_ngrams
      val g = Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(transform(char_ngrams(col("text"), 3),
            gr => conv(substring(md5(gr), 1, 8), 16, 10).cast("long")))).as("gh"))
        .localCheckpoint()
      val perDoc = g.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      val novel = g.groupBy(col("gh")).agg(min(col("doc_id")).as("owner"))
        .groupBy(col("owner")).agg(count(lit(1)).as("n_novel"))
      perDoc.join(novel, col("doc_id") === col("owner"), "left")
        .select(col("doc_id"), col("n_grams").cast("int").as("n_grams"),
          coalesce(col("n_novel"), lit(0L)).cast("int").as("n_novel"),
          round(coalesce(col("n_novel"), lit(0L)).cast("double")
            / col("n_grams"), 6).as("novelty"))
        .orderBy(col("doc_id"))
    },

    // ----- Count-Min Sketch heavy hitters (Cormode & Muthukrishnan
    // 2005, public): the additive sketch that answers "how often does
    // this term occur in 100 TB" without holding the vocabulary —
    // d = 4 independent hash rows (the four md5 digest slices, the
    // LSH band trick) × w = 1024 buckets. The sketch is ONE 4096-cell
    // aggregate with map-side combine (cells merge by +, so executor
    // partials combine exactly — the distributed-sketch property that
    // makes it a scale path alongside HLL q120 / quantile q121);
    // estimation is min over the term's d cells, always ≥ the true
    // count. Verified against the exact top-20 terms: the oracle
    // replays sketch AND truth, so the overestimates themselves must
    // hash-match. -----
    q("q180_cms_heavy_hitters", cmsOracle) { (s, dir) =>
      val w = Tables.t(s, dir, "documents")
        .select(explode(split(lower(col("text")), " ")).as("word"))
      val hh = w.select((col("word") +: (0 to 3).map(cmsSlice)): _*)
      val cms = (0 to 3).map { j =>
        hh.groupBy(col(s"h$j").as("b")).agg(count(lit(1)).as("c"))
          .select(lit(j).as("j"), col("b"), col("c"))
      }.reduce(_ unionByName _)
      cmsEstimates(w, cms)
    },

    // ----- the SAME sketch maintained AT INGEST: documents arrive as
    // a stream and the 4096 CMS cells accumulate as a streaming
    // aggregation — the sketch IS the state, 4 × 1024 cells bounded
    // by construction no matter how long the stream runs (the whole
    // point of a sketch on an unbounded stream; the reference would
    // carry the same cells in keyed state). Because cells are
    // additive counts, the final streamed sketch is identical to the
    // batch sketch, so q182 answers the exact same top-20 estimates
    // against the same oracle — the q172/q158 "streaming twin,
    // hash-equal to batch" contract. -----
    q("q182_stream_cms", cmsOracle) { (s, dir) => cmsStream(s, dir) },

    // ----- PMI collocation extraction (pointwise mutual information
    // over adjacent word pairs — the classic corpus-linguistics
    // statistic a tokenizer/vocab pipeline uses to find multiword
    // units worth merging): PMI = log2(c(w1,w2)·N / (cl(w1)·cr(w2)))
    // with all marginals taken over the bigram table, pairs with
    // count ≥ 5, top-20 by (PMI DESC, pair). Three map-side-combined
    // count aggs + two hash joins of the marginals back onto the
    // pair counts; the top-20 is a TakeOrdered, no global sort
    // materialization. -----
    q("q183_pmi_collocations",
      s"""WITH w AS (SELECT doc_id, string_split(lower(text),' ') AS w
         |           FROM documents),
         |b AS (SELECT w[i] AS w1, w[i+1] AS w2
         |      FROM (SELECT doc_id, unnest(range(1, len(w))) AS i, w
         |            FROM w WHERE len(w) >= 2)),
         |cb AS (SELECT w1, w2, count(*) AS n_pair FROM b GROUP BY w1, w2),
         |cl AS (SELECT w1, count(*) AS cl FROM b GROUP BY w1),
         |cr AS (SELECT w2, count(*) AS cr FROM b GROUP BY w2),
         |n AS (SELECT count(*) AS n FROM b),
         |scored AS (SELECT cb.w1, cb.w2, cb.n_pair,
         |    round(log2(cb.n_pair::DOUBLE * n.n / (cl.cl::DOUBLE * cr.cr)), 6) AS pmi
         |  FROM cb JOIN cl USING (w1) JOIN cr USING (w2), n
         |  WHERE cb.n_pair >= 5)
         |SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair, pmi
         |FROM scored ORDER BY pmi DESC, w1, w2 LIMIT 20""") { (s, dir) =>
      pmiRaw(Tables.t(s, dir, "documents"))
        .select(col("w1"), col("w2"), col("n_pair"),
          round(col("raw"), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(20)
    },

    // ----- per-document TF-IDF keywords: the top-3 most
    // characteristic terms of every doc (tf × idf, idf = ln(N/df)
    // rounded 6 dp so the product is engine-identical) — the
    // lightweight doc-descriptor a curation dashboard or topic
    // sampler consumes. df and N are corpus-level aggs joined back
    // by term hash; ranking is a per-doc window over that doc's own
    // distinct terms (partition = doc_id, ~vocabulary-of-one-doc
    // rows — no global sort). -----
    q("q184_tfidf_keywords",
      s"""WITH w AS (SELECT doc_id, unnest(string_split(lower(text),' ')) AS word
         |           FROM documents),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
         |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         |n AS (SELECT count(DISTINCT doc_id) AS n FROM w),
         |scored AS (SELECT tf.doc_id, tf.word,
         |    round(tf.tf * round(ln(n.n::DOUBLE / df.df), 6), 6) AS score
         |  FROM tf JOIN df USING (word), n),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, word) AS rn FROM scored)
         |SELECT doc_id, word, score, CAST(rn AS INTEGER) AS rn
         |FROM ranked WHERE rn <= 3
         |ORDER BY doc_id, rn""") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      tfidfRaw(Tables.t(s, dir, "documents"))
        .select(col("doc_id"), col("word"),
          round(col("score_raw"), 6).as("score"))
        .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("word"))))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("word"), col("score"),
          col("rn").cast("int").as("rn"))
        .orderBy(col("doc_id"), col("rn"))
    },

    // ----- overlapping chunk extraction (the RAG/embedding-pipeline
    // splitter): each document becomes sliding word windows of 32
    // tokens at stride 24 (8-token overlap, the continuity margin
    // retrieval chunking keeps so a sentence split across a boundary
    // survives in one piece). Pure per-row generate — transform over
    // a stride sequence + slice, zero shuffle at any corpus size;
    // chunk_id is the window ordinal so (doc_id, chunk_id) is the
    // stable chunk key downstream embedding/indexing steps join on. -----
    q("q187_chunk_overlap",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |st AS (SELECT doc_id, w, unnest(range(0, len(w), 24)) AS start FROM w)
        |SELECT doc_id, CAST(start // 24 AS INTEGER) AS chunk_id,
        |  CAST(len(w[start+1 : start+32]) AS INTEGER) AS n_tokens,
        |  array_to_string(w[start+1 : start+32], ' ') AS chunk
        |FROM st ORDER BY doc_id, chunk_id""") { (s, dir) =>
      Tables.t(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, size(w)-1, 24), st -> slice(w, st + 1, 32))"))
          .as(Seq("chunk_id", "c")))
        .select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
          size(col("c")).cast("int").as("n_tokens"),
          array_join(col("c"), " ").as("chunk"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // ----- STREAMING trending terms: per 100 s event-time window,
    // the top-3 terms by count over the document stream (synthetic
    // arrival ts = doc_id seconds, the q136 convention). r12 shape:
    // two CHAINED append-mode windowed aggregations — per-(window,
    // word) counts whose groups evict as the watermark passes, then
    // per-window top-3 via the bounded TopK aggregate over each
    // window's sealed counts — so the sink holds windows × 3 rows
    // (never windows × vocab) and nothing partitions a window's full
    // vocabulary into one task. See [[trendingStream]]. -----
    q("q193_stream_trending_terms",
      """WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        |           FROM documents),
        |c AS (SELECT epoch_ms(((doc_id + 1) // 100) * 100000) AS w_start,
        |             word, count(*) AS n
        |      FROM w GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY w_start
        |        ORDER BY n DESC, word) AS rn FROM c)
        |SELECT w_start, word, CAST(n AS BIGINT) AS n, CAST(rn AS INTEGER) AS rn
        |FROM r WHERE rn <= 3 ORDER BY w_start, rn""") { (s, dir) =>
      trendingStream(s, dir)._1
    },

    // ----- token-budgeted mix construction: the final assembly step
    // of a training mix — per SOURCE, admit documents in
    // content-hash order (reproducible, order-free) until that
    // source's token budget is exhausted. One window cumsum
    // partitioned by source (parallelism = #sources; within a
    // source it is the sequential-prefix semantics the budget
    // REQUIRES, same argument as q163's packing); everything else is
    // a map. Emits every doc with its running total and the
    // admit/reject flag a mix builder acts on. -----
    q("q181_token_budget_mix",
      """WITH t AS (SELECT doc_id, source,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    CAST(list_sum(list_transform(range(1,9),
        |      hx -> (strpos('0123456789abcdef', substr(md5(text), hx, 1))-1)
        |            * (2**(4*(8-hx))))) AS BIGINT) AS h
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |  FROM t)
        |SELECT doc_id, source, CAST(n_tokens AS INTEGER) AS n_tokens,
        |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |  CAST(cum_tokens <= 2000 AS INTEGER) AS admitted
        |FROM c ORDER BY doc_id""") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).as("n_tokens"),
          conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long").as("h"))
      t.withColumn("cum_tokens",
          sum(col("n_tokens")).over(Window.partitionBy(col("source"))
            .orderBy(col("h"), col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("doc_id"), col("source"),
          col("n_tokens").cast("int").as("n_tokens"),
          col("cum_tokens").cast("long").as("cum_tokens"),
          (col("cum_tokens") <= 2000).cast("int").as("admitted"))
        .orderBy(col("doc_id"))
    },

    // ----- temperature-scaled source mixing (the multilingual-LM
    // sampling rule, Conneau & Lample 2019: sample source i with
    // probability ∝ n_i^α, α < 1 flattens the source distribution so
    // low-resource sources are up-weighted): per-source token masses
    // n_i aggregate in one map-side-combined pass; each doc is then
    // admitted iff its 52-bit content-hash uniform < its source's
    // acceptance rate = min(1, B·w_i/(W·n_i)) — map-only over the
    // corpus with the tiny per-source rate table broadcast (q165's
    // deterministic-subsample contract, made source-adaptive).
    // α is fixed at 0.5 because sqrt is a correctly-rounded IEEE op
    // (bit-identical in any engine) where pow(n, 0.3) is not; the
    // weights are floored to integer micro-units so the normalizer W
    // is an exact integer sum — no float summation-order anywhere.
    // Raw doubles at the output boundary: every emitted value is the
    // same deterministic op-sequence in both engines. -----
    q("q199_temperature_mix",
      """WITH d AS (SELECT doc_id, source,
        |    len(string_split(text, ' ')) AS n_tok,
        |    CAST(list_sum(list_transform(range(1, 14),
        |      hx -> (strpos('0123456789abcdef', substr(md5(text), hx, 1))-1)
        |            * (2**(4*(13-hx))))) AS BIGINT)
        |      / 4503599627370496.0 AS u
        |  FROM documents),
        |s AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_i
        |      FROM d GROUP BY source),
        |sw AS (SELECT *, CAST(floor(sqrt(n_i) * 1000000) AS BIGINT) AS w
        |       FROM s),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS wt FROM sw),
        |r AS (SELECT source, n_i,
        |        least(1.0::DOUBLE,
        |          (w::DOUBLE * 5000.0 / wt::DOUBLE) / n_i::DOUBLE) AS accept_p
        |      FROM sw, tot)
        |SELECT d.doc_id, d.source, r.n_i AS src_tokens, r.accept_p, d.u,
        |  CAST(d.u < r.accept_p AS INTEGER) AS admitted
        |FROM d JOIN r USING (source)
        |ORDER BY d.doc_id""") { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).as("n_tok"),
          (conv(substring(md5(col("text")), 1, 13), 16, 10).cast("long")
            / lit(4503599627370496.0)).as("u"))
      val sw = docs.groupBy(col("source"))
        .agg(sum(col("n_tok")).as("n_i"))
        .withColumn("w", floor(sqrt(col("n_i")) * lit(1000000.0)).cast("long"))
      // the total's branch rides AQE exchange reuse off sw's own
      // exchange — one corpus scan in the final plan (r13 probe)
      val rates = sw
        .crossJoin(broadcast(sw.agg(sum(col("w")).as("wt"))))
        .select(col("source"), col("n_i"),
          least(lit(1.0), (col("w").cast("double") * lit(5000.0)
            / col("wt").cast("double")) / col("n_i").cast("double"))
            .as("accept_p"))
      docs.join(broadcast(rates), "source")
        .select(col("doc_id"), col("source"), col("n_i").as("src_tokens"),
          col("accept_p"), col("u"),
          (col("u") < col("accept_p")).cast("int").as("admitted"))
        .orderBy(col("doc_id"))
    },

    // ----- winnowing fingerprint pairs (Schleimer/Wilkerson/Aiken
    // 2003, the MOSS selection rule): per doc, hash every word
    // 3-gram, slide a w=4 window over the hash sequence and keep
    // each window's MINIMUM — the guarantee is that any shared run
    // of ≥ w+k-1 = 7 words contributes at least one shared selected
    // hash, while the fingerprint set is ~1/w the gram count. Docs
    // sharing ≥ 2 selected hashes become candidate pairs. The
    // per-doc sliding min is a doc_id-partitioned window (partition
    // = ONE doc's grams, bounded by doc length — the q184 shape,
    // never corpus-keyed); fingerprints shuffle as 8-byte hashes.
    // Following the paper, hashes selected by more than MAXDF docs
    // are dropped as boilerplate before pairing — that cap is also
    // what bounds the join fan-out at 100 TB (the LSH-band
    // argument: pair space is Σ df² over surviving hashes, and df
    // ≤ MAXDF makes it linear in fingerprint volume). df = 1
    // fingerprints are dropped too (cannot form a pair — result-
    // preserving prefilter, not mirrored in the oracle's cap). -----
    q("q196_winnowing_pairs",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (SELECT doc_id, len(w)-2 AS nk, unnest(range(1, len(w)-1)) AS i, w
         |      FROM w WHERE len(w) >= 3),
         |hh AS (SELECT doc_id, nk, i-1 AS p,
         |         ${duckH32("w[i] || ' ' || w[i+1] || ' ' || w[i+2]")} AS h FROM g),
         |win AS (SELECT s.doc_id, s.p AS st, g2.h
         |        FROM hh s JOIN hh g2 ON g2.doc_id = s.doc_id
         |          AND g2.p BETWEEN s.p AND s.p + 3
         |        WHERE s.p <= greatest(s.nk - 4, 0)),
         |fps AS (SELECT DISTINCT doc_id, min(h) AS h
         |        FROM win GROUP BY doc_id, st),
         |keep AS (SELECT h FROM fps GROUP BY h
         |         HAVING count(*) <= 20),
         |f2 AS (SELECT doc_id, h FROM fps JOIN keep USING (h))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(count(*) AS INTEGER) AS n_shared
         |FROM f2 a JOIN f2 b ON a.h = b.h AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY doc_a, doc_b""") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val W = 4
      val g = Tables.t(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), (size(col("w")) - 2).as("nk"),
          posexplode(expr("""transform(sequence(0, size(w)-3),
            | i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))""".stripMargin))
            .as(Seq("p", "gram")))
        .select(col("doc_id"), col("nk"), col("p"),
          h32(col("gram")).as("h"))
      // materialize ONCE (the q179 rule): the explode+md5+window pass
      // dominates and feeds three consumers (df cap, both join sides);
      // the frame is (doc_id, 8-byte hash) — ~¼ the gram count
      val fps = g
        .withColumn("sel", min(col("h")).over(Window.partitionBy(col("doc_id"))
          .orderBy(col("p")).rowsBetween(0, W - 1)))
        .filter(col("p") <= greatest(col("nk") - W, lit(0)))
        .select(col("doc_id"), col("sel").as("h")).distinct()
        .localCheckpoint()
      val keep = fps.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, 20)).select(col("h"))
      val f2 = fps.join(keep, "h")
      f2.alias("a")
        .join(f2.alias("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .select(col("doc_a"), col("doc_b"),
          col("n_shared").cast("int").as("n_shared"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ----- segment-level boilerplate dedup (the CCNet/RefinedWeb
    // paragraph-dedup recipe adapted to unstructured text): cut each
    // doc into consecutive 10-word segments, drop every segment
    // whose hash occurs in MORE THAN ONE distinct document (cross-
    // doc boilerplate — headers, licence blocks, injected dups),
    // and reconstruct the surviving text in order. Unlike doc-level
    // dedup (q50) this salvages the unique remainder of partially-
    // duplicated docs; unlike q170's 5-gram spans it works on
    // aligned fixed-width units, the cheap first pass. Scale shape:
    // segments travel as 8-byte hashes with map-side combine; the
    // duplicated-hash set is small (boilerplate is rare relative to
    // the corpus) and AQE broadcasts it for the join-back; segment
    // TEXT never shuffles — reconstruction re-derives it per doc
    // from the original text after a hash-only membership probe. -----
    q("q197_segment_dedup",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |seg AS (SELECT doc_id, unnest(range(0, len(w), 10)) AS st, w FROM w),
         |hh AS (SELECT doc_id, st // 10 AS seg_id,
         |         ${duckH32("array_to_string(w[st+1 : st+10], ' ')")} AS h
         |       FROM seg),
         |dup AS (SELECT h FROM hh GROUP BY h
         |        HAVING count(DISTINCT doc_id) > 1),
         |kept AS (SELECT hh.doc_id, hh.seg_id,
         |           dup.h IS NOT NULL AS is_dup
         |         FROM hh LEFT JOIN dup USING (h))
         |SELECT k.doc_id,
         |  CAST(count(*) AS INTEGER) AS n_segments,
         |  CAST(count(*) FILTER (WHERE NOT is_dup) AS INTEGER) AS n_kept,
         |  coalesce(string_agg(
         |    array_to_string(w.w[k.seg_id*10+1 : k.seg_id*10+10], ' '), ' '
         |    ORDER BY k.seg_id) FILTER (WHERE NOT is_dup), '') AS clean_text
         |FROM kept k JOIN w ON w.doc_id = k.doc_id
         |GROUP BY k.doc_id
         |ORDER BY k.doc_id""") { (s, dir) =>
      val S = 10
      val docs = Tables.t(s, dir, "documents")
        .withColumn("w", split(col("text"), " "))
      // materialized ONCE (q179 rule): feeds the df agg and the
      // mark join; (doc_id, seg_id, 8-byte hash) = corpus/10 rows
      val segs = docs
        .select(col("doc_id"),
          posexplode(expr(s"transform(sequence(0, size(w)-1, $S), st -> slice(w, st+1, $S))"))
            .as(Seq("seg_id", "seg")))
        .select(col("doc_id"), col("seg_id"),
          h32(array_join(col("seg"), " ")).as("h"))
        .localCheckpoint()
      val dup = segs.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 1).select(col("h"))
      val marked = segs.join(dup.withColumn("is_dup", lit(true)), Seq("h"), "left")
        .select(col("doc_id"), col("seg_id"),
          coalesce(col("is_dup"), lit(false)).as("is_dup"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_segments"),
          count(when(!col("is_dup"), 1)).cast("int").as("n_kept"),
          sort_array(collect_list(when(!col("is_dup"), col("seg_id"))))
            .as("keep_ids"))
      docs.join(marked, "doc_id")
        .select(col("doc_id"), col("n_segments"), col("n_kept"),
          expr(s"""array_join(transform(keep_ids,
            | sid -> array_join(slice(w, sid*$S+1, $S), ' ')), ' ')"""
            .stripMargin).as("clean_text"))
        .orderBy(col("doc_id"))
    }
  )

  // ---- quant-guard machinery (r13 verdict item 5) --------------------
  // Every helper here exists so the sweep-time guard measures the SAME
  // pre-round expression the registered query rounds (the q210
  // psiWithP pattern): a margin computed on a re-derived copy of the
  // formula can silently drift from the formula it claims to guard.

  /** q171/q172's per-(doc, pos) frame with the PRE-ROUND bigram
    * log-ratio as `raw`; the query emits round(raw, 6). */
  private[pipeline] def perplexityTermsRaw(docs: DataFrame): DataFrame = {
    // r17 OPT: the bigram hash frame feeds three consumers (both LM
    // count tables and the scoring join) — materialize once instead
    // of replaying the split+explode+2×md5 pass per consumer. r18
    // note (r17 ADVICE): this frame is TOKEN-granularity (one row per
    // bigram position — doc_id, p, two hash longs ≈ 28 B/row), not
    // doc-sized; the scoring join needs every column, so it cannot
    // narrow further. At corpus sizes where pinning it breaks
    // executor storage, drop the checkpoint and repay the two extra
    // corpus passes — a recompute-vs-storage dial, not correctness.
    val b = docs.withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("w"),
        explode(expr("sequence(0, size(w)-2)")).as("p"))
      .select(col("doc_id"), col("p"),
        h32(expr("element_at(w, p+1)")).as("h1"),
        h32(concat(expr("element_at(w, p+1)"), lit(" "),
          expr("element_at(w, p+2)"))).as("hb"))
      .localCheckpoint()
    val cb = b.groupBy(col("hb")).agg(count(lit(1)).as("cb"))
    val c1 = b.groupBy(col("h1")).agg(count(lit(1)).as("c1"))
    b.join(cb, "hb").join(c1, "h1")
      .select(col("doc_id"), col("p"),
        log2(col("c1").cast("double") / col("cb")).as("raw"))
  }

  /** q175's per-(doc, pos) bigram-bucket frame. */
  private def dsirBuckets(docs: DataFrame): DataFrame =
    docs.withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        explode(expr("sequence(0, size(w)-2)")).as("p"), col("w"))
      .select(col("doc_id"), col("p"),
        (h32(concat(expr("element_at(w, p+1)"), lit(" "),
          expr("element_at(w, p+2)"))) % 256).as("bkt"))

  /** q175's 256-row bucket table with the PRE-ROUND log-ratio. */
  private def dsirTermsRaw(b: DataFrame): DataFrame = {
    val isTarget = col("doc_id") % 97 === 0
    val tc = b.filter(isTarget).groupBy(col("bkt")).agg(count(lit(1)).as("tc"))
    val rc = b.filter(!isTarget).groupBy(col("bkt")).agg(count(lit(1)).as("rc"))
    val tot = b.agg(
      sum(when(isTarget, 1L).otherwise(0L)).as("tt"),
      sum(when(isTarget, 0L).otherwise(1L)).as("tr"))
    b.select(col("bkt")).distinct()
      .join(tc, Seq("bkt"), "left").join(rc, Seq("bkt"), "left")
      .crossJoin(broadcast(tot))
      .select(col("bkt"), log2(
        ((coalesce(col("tc"), lit(0L)) + 1).cast("double") / (col("tt") + 256))
          / ((coalesce(col("rc"), lit(0L)) + 1).cast("double")
            / (col("tr") + 256))).as("raw"))
  }

  /** q183's scored pair frame with the PRE-ROUND PMI as `raw`. */
  private def pmiRaw(docs: DataFrame): DataFrame = {
    val b = docs.withColumn("w", split(lower(col("text")), " "))
      .filter(size(col("w")) >= 2)
      .select(explode(expr("sequence(1, size(w)-1)")).as("i"), col("w"))
      .select(expr("element_at(w, i)").as("w1"),
        expr("element_at(w, i+1)").as("w2"))
    val cb = b.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
    val cl = b.groupBy(col("w1")).agg(count(lit(1)).as("cl"))
    val cr = b.groupBy(col("w2")).agg(count(lit(1)).as("cr"))
    val n = b.agg(count(lit(1)).as("n"))
    cb.filter(col("n_pair") >= 5)
      .join(cl, "w1").join(cr, "w2").crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("n_pair"),
        log2(col("n_pair").cast("double") * col("n")
          / (col("cl").cast("double") * col("cr"))).as("raw"))
  }

  /** q184's scored frame with the inner pre-round idf (`idf_raw`) and
    * the pre-OUTER-round product (`score_raw` = tf · round(idf, 6));
    * the query emits round(score_raw, 6). */
  private def tfidfRaw(docs: DataFrame): DataFrame = {
    val w = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
    val tf = w.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = w.agg(countDistinct(col("doc_id")).as("n"))
    tf.join(df, "word").crossJoin(broadcast(n))
      .select(col("doc_id"), col("word"), col("tf"),
        log(col("n").cast("double") / col("df")).as("idf_raw"))
      .withColumn("score_raw", col("tf") * round(col("idf_raw"), 6))
  }

  /** min distance of `c` to the nearest HALF-integer — the round(·)
    * flip boundary at whatever scale `c` was multiplied to. */
  private def halfMargin(xs: DataFrame, c: org.apache.spark.sql.Column): Double = {
    val r = xs.select(c.as("y"))
      .agg(min(abs(abs(col("y") - floor(col("y"))) - lit(0.5)))).collect()(0)
    if (r.isNullAt(0)) Double.PositiveInfinity else r.getDouble(0)
  }

  /** Sweep-time transcendental-boundary margins for this module's
    * hash-compared float surfaces (r13 verdict item 5). Every entry is
    * the min distance of a pre-round value (scaled by the round
    * scale, 1e6) to the nearest half-integer — below ~1e-7 a 1-ulp
    * JVM-vs-DuckDB libm divergence on ln/exp/log2 could flip the
    * round and fail the hash oracle. Coverage map: QuantGuard. */
  private[graft] def quantMargins(
      s: SparkSession, dir: String): Seq[(String, Double)] = {
    val docs = Tables.t(s, dir, "documents")
    val contrib = bm25Contrib(s, dir)
    Seq(
      // the teacher sigmoid — every quality() consumer (q58 quality
      // column, q138/q208/q211/q218/q221 scoring, the q212/q213/q219
      // label, q161's stream gate) rounds this exact expression
      "teacher_sigmoid_half" ->
        halfMargin(docs, lit(1000000.0) * qualityRaw(col("text"))),
      "q171_q172_log2_half" ->
        halfMargin(perplexityTermsRaw(docs), lit(1000000.0) * col("raw")),
      "q175_log2_half" ->
        halfMargin(dsirTermsRaw(dsirBuckets(docs)),
          lit(1000000.0) * col("raw")),
      "q177_idf_ln_half" ->
        halfMargin(contrib.select(col("idf_raw")).distinct(),
          lit(1000000.0) * col("idf_raw")),
      "q177_contrib_half" ->
        halfMargin(contrib, lit(1000000.0) * col("c_raw")),
      "q183_pmi_log2_half" ->
        halfMargin(pmiRaw(docs), lit(1000000.0) * col("raw")),
      "q184_idf_ln_half" ->
        halfMargin(tfidfRaw(docs).select(col("idf_raw")).distinct(),
          lit(1000000.0) * col("idf_raw")),
      "q184_score_half" ->
        halfMargin(tfidfRaw(docs), lit(1000000.0) * col("score_raw")))
  }
}
