package graft.pipeline

import graft.{QueryDef, QueryModule, Tables}
import graft.streaming.Drain
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.CharNGrams.char_ngrams

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash-groupBy), MinHash + LSH banding, SimHash, and
  * character-n-gram Jaccard with blocking. All hashing is
  * md5-derived so the DuckDB oracle can reproduce it bit-for-bit;
  * every stage is pure Catalyst expressions (codegen'd, shuffle only
  * on the group-bys/joins), so the plans scale linearly — at 100 TB
  * the LSH band join is the only wide dependency and is keyed on
  * band values, which distribute uniformly.
  */
object Dedup extends QueryModule {

  /** Temp dirs deleted recursively at JVM exit: q176/q185 build
    * corpus-sized index copies per invocation, and bench's rep
    * schedule plus correctness sweeps must not accumulate them in
    * /tmp across rounds (r10 advice). In-JVM reps still get fresh
    * dirs (stream checkpoints can't be reused); exit cleanup bounds
    * the leak to one session's live footprint. */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def del(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(del); f.delete()
      }
      scratchDirs.forEach(del(_))
    }))
  }
  private[graft] def scratchDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(d.toFile)
    d.toString
  }

  /** The cross-engine content hash every curation module shares:
    * the first 8 hex chars of md5 as a 32-bit long. */
  private[pipeline] def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** [[h32]] in DuckDB SQL (no conv(); digit-expand the hex). */
  private[pipeline] def duckH32(e: String): String =
    s"CAST(list_sum(list_transform(range(1,9), hx -> (strpos('0123456789abcdef', substr(md5($e), hx, 1))-1) * (2**(4*(8-hx))))) AS BIGINT)"

  /** The first 13 hex chars of md5 as a 52-bit long (exact in double). */
  private[pipeline] def h52(c: Column): Column =
    conv(substring(md5(c), 1, 13), 16, 10).cast("long")

  /** [[h52]] in DuckDB SQL. */
  private[pipeline] def duckH52(e: String): String =
    s"CAST(list_sum(list_transform(range(1,14), hx -> (strpos('0123456789abcdef', substr(md5($e), hx, 1))-1) * (2**(4*(13-hx))))) AS BIGINT)"

  /** Band b's 32-bit hash = hex slice [8b+1, 8b+8] of a precomputed
    * md5 digest: the 128-bit digest carries all four band values, so
    * the shingle stage runs ONE md5 per shingle instead of four (the
    * dominant cost of the LSH pipeline at any scale). */
  private[pipeline] def digestSlice(d: Column, b: Int): Column =
    conv(substring(d, 8 * b + 1, 8), 16, 10).cast("long")

  /** The same digest slice in DuckDB SQL. */
  private def duckBandHash(e: String, b: Int): String =
    s"CAST(list_sum(list_transform(range(1,9), hx -> (strpos('0123456789abcdef', substr(md5($e), ${8 * b} + hx, 1))-1) * (2**(4*(8-hx))))) AS BIGINT)"

  /** Word 3-shingles, distinct, Spark side (0-based array lambda). */
  private[pipeline] val sparkShingles =
    """array_distinct(transform(sequence(0, size(w)-3),
      |  i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])))""".stripMargin

  /** Same in DuckDB (1-based). */
  private val duckShingles =
    "list_distinct(list_transform(range(1, len(w)-1), i -> w[i]||' '||w[i+1]||' '||w[i+2]))"

  override def queries: Seq[QueryDef] = Seq(

    // ----- exact dedup: hash full text, keep min doc_id per hash -----
    q("q50_dedup_exact",
      """SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)
        |ORDER BY h""") { (s, dir) =>
      Tables.t(s, dir, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy(col("h"))
    },

    // ----- MinHash signatures: 4 seeded min-hashes over word
    // 3-shingles (shingle → hash_i → per-doc min) -----
    q("q51_minhash_signatures",
      s"""WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         |sh AS (SELECT doc_id, unnest($duckShingles) AS s FROM words WHERE len(w) >= 3)
         |SELECT doc_id,
         |  min(${duckBandHash("s", 0)}) AS m0,
         |  min(${duckBandHash("s", 1)}) AS m1,
         |  min(${duckBandHash("s", 2)}) AS m2,
         |  min(${duckBandHash("s", 3)}) AS m3
         |FROM sh GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      minhashSignatures(Tables.t(s, dir, "documents")).orderBy(col("doc_id"))
    },

    // ----- LSH banding (b=4 bands of r=1 — high recall) → candidate
    // pairs → verify with word-shingle Jaccard -----
    q("q52_minhash_lsh_pairs",
      duckPairsCtes(recursive = false) +
        "\nSELECT doc_a, doc_b, jacc FROM good ORDER BY doc_a, doc_b") { (s, dir) =>
      lshVerifiedPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))
    },

    // ----- duplicate CLUSTERS: the step after pair generation in a
    // real dedup pipeline — candidate pairs (q52) become edges of a
    // similarity graph, connected components (the generic Pregel
    // min-label iteration from graph/) name each cluster by its
    // smallest doc_id, and `keep` marks the canonical representative.
    // One LSH bucket join + the CC supersteps; nothing quadratic in
    // the corpus, so the composition scales exactly as its parts do. -----
    q("q133_dedup_clusters",
      duckPairsCtes(recursive = true) +
        """,
          |edges AS (SELECT doc_a AS a, doc_b AS b FROM good
          |          UNION SELECT doc_b, doc_a FROM good),
          |walk(a, b) AS (
          |  SELECT a, b FROM edges
          |  UNION SELECT a, a FROM edges
          |  UNION SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a)
          |SELECT a AS doc_id, min(b) AS cluster_id, a = min(b) AS keep
          |FROM walk GROUP BY a ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // one LSH evaluation: edges AND the derived vertex set read this
      val pairs = lshVerifiedPairs(s, dir).select(col("doc_a"), col("doc_b"))
        .localCheckpoint()
      graft.graph.Graph.fromEdges(
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .connectedComponents()
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"),
          (col("id") === col("comp")).as("keep"))
        .orderBy(col("doc_id"))
    },

    // ----- INCREMENTAL dedup: today's crawl (delta) against the
    // standing corpus — the daily-ingest case, where re-running the
    // corpus self-join (q52/q133) would redo work that can never
    // produce new pairs. The plan only joins delta bands against
    // corpus bands: candidates are delta × corpus, NEVER corpus ×
    // corpus, so per-ingest cost is O(delta × bucket overlap) no
    // matter how large the standing corpus grows. In production the
    // corpus band/shingle tables are the persisted dedup INDEX
    // (computed once at corpus build, appended as deltas commit);
    // here both derive from the documents table with delta = doc_id
    // ≡ 9 (mod 10). Verified matches aggregate per delta doc into
    // (n_dups, keeper, is_new) — the admit/reject verdict an ingest
    // pipeline acts on. -----
    q("q166_incremental_dedup", duckIncrementalOracle) { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val delta = docs.filter(col("doc_id") % 10 === 9)
      val corpus = docs.filter(col("doc_id") % 10 =!= 9)
      incrementalDedup(delta,
        DedupIndex.bandRows(corpus), DedupIndex.shingleRows(corpus))
    },

    // ----- the same verdict against a PERSISTED standing index
    // (DedupIndex.save/load/update): the corpus band/shingle tables
    // are computed once at corpus build and read back from parquet —
    // per-ingest cost no longer repays the corpus's shingle+minhash
    // work, which is exactly what a production daily-ingest pipeline
    // does. Identical output (and oracle) to q166 by construction;
    // DedupIndexSpec additionally pins update() equivalence. -----
    q("q176_incremental_index_dedup", duckIncrementalOracle) { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val delta = docs.filter(col("doc_id") % 10 === 9)
      val corpus = docs.filter(col("doc_id") % 10 =!= 9)
      val path = scratchDir("graft-dedup-index")
      DedupIndex.save(corpus, path)
      DedupIndex.dedupDelta(s, delta, path)
    },

    // ----- the PRODUCTION INGEST LOOP as a streaming job: today's
    // crawl ARRIVES as a stream, every micro-batch is scored against
    // the FROZEN standing index (verdicts are per-doc independent,
    // so batching cannot change them — the oracle holds under any
    // trigger schedule), and at day close the admitted docs commit
    // to the index via DedupIndex.update (appends only — spec-pinned
    // equal to a rebuild). Composes q136's dedup-at-ingest shape
    // with q176's persisted index; per-batch cost is the q176 probe
    // cost, state lives in the index, not the stream. The CRASH-SAFE
    // verdict path is [[DedupIndex.ingestEos]] — the same loop with
    // both writes routed through ExactlyOnceJdbc's idempotent
    // epoch commit, crash/replay-tested in IngestLoopEosSpec; here
    // the plain parquet append is exercised under
    // processAllAvailable (deterministic for the oracle). -----
    q("q185_stream_index_ingest", duckIncrementalOracle) { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 10 =!= 9)
      def tmp(p: String) = scratchDir(p)
      val idxPath = tmp("graft-ingest-idx")
      DedupIndex.save(corpus, idxPath)
      val stream = Tables.stream(s, dir, "documents")
        .filter(col("doc_id") % 10 === 9)
        .select(col("doc_id"), col("text"))
      val outPath = tmp("graft-ingest-out")
      val admittedPath = tmp("graft-ingest-admitted")
      // schema seeds: an EMPTY delta slice produces zero micro-batches,
      // which would leave outPath/admittedPath unreadable ("unable to
      // infer schema") and feed update() a pathless read — write
      // zero-row frames with the exact batch schemas first (derived
      // by construction: the same plan a real batch runs)
      // r18 OPT: one index handle for the whole ingest session — the
      // schema seed and every micro-batch probe share one file-listing
      // snapshot instead of re-listing the band/shingle partition
      // directories per batch (the index is frozen until the day-close
      // update below, which runs after the stream stops)
      val idx = DedupIndex.open(s, idxPath)
      val emptyDelta = docs.limit(0).select(col("doc_id"), col("text"))
      DedupIndex.dedupDelta(idx, emptyDelta)
        .write.mode("overwrite").parquet(outPath)
      emptyDelta.write.mode("overwrite").parquet(admittedPath)
      Drain(stream.writeStream
        .option("checkpointLocation", tmp("graft-ingest-ckpt"))
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val verdict = DedupIndex.dedupDelta(idx, batch)
            .localCheckpoint()
          verdict.write.mode("append").parquet(outPath)
          // day-close commit source: only docs the verdict admitted
          batch.join(verdict.filter(col("is_new"))
            .select(col("doc_id")), "doc_id")
            .write.mode("append").parquet(admittedPath)
        })
      DedupIndex.update(s.read.parquet(admittedPath), idxPath)
      s.read.parquet(outPath).orderBy(col("doc_id"))
    },

    // ----- the CURATION PIPELINE end-to-end, as one declarative plan:
    // quality-filter the corpus (q58's score), near-dedup the
    // survivors (LSH pairs -> Pregel components -> canonical keep,
    // q52/q133), and assign reproducible train/val/test splits by
    // content hash (q125) — the keep-list a training-data pipeline
    // actually ships. Every stage is the already-proven scale shape;
    // composing them adds no new shuffle beyond their own. -----
    q("q138_curation_keeplist",
      duckPairsCtes(recursive = true,
        leadingCtes =
          s"""base AS (SELECT doc_id, text FROM documents
             |  WHERE ${TextAnalysis.duckQuality} >= 0.5),
             |""".stripMargin,
        source = "base") +
        """,
          |edges AS (SELECT doc_a AS a, doc_b AS b FROM good
          |          UNION SELECT doc_b, doc_a FROM good),
          |walk(a, b) AS (
          |  SELECT a, b FROM edges
          |  UNION SELECT a, a FROM edges
          |  UNION SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a),
          |cluster AS (SELECT a AS doc_id, min(b) AS cluster_id FROM walk GROUP BY a),
          |keep AS (
          |  SELECT b.doc_id, b.text FROM base b LEFT JOIN cluster c ON b.doc_id = c.doc_id
          |  WHERE c.doc_id IS NULL OR c.cluster_id = b.doc_id)
          |SELECT doc_id,
          |  CASE WHEN h % 100 < 80 THEN 'train'
          |       WHEN h % 100 < 90 THEN 'val'
          |       ELSE 'test' END AS split
          |FROM (SELECT doc_id,
          |  CAST(list_sum(list_transform(range(1,9),
          |    hx -> (strpos('0123456789abcdef', substr(md5(text), hx, 1))-1)
          |          * (2**(4*(8-hx))))) AS BIGINT) AS h
          |  FROM keep)
          |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val base = Tables.spread(Tables.t(s, dir, "documents"), "doc_id")
        .filter(TextAnalysis.quality(col("text")) >= 0.5)
        .select(col("doc_id"), col("text"))
      val pairs = lshVerifiedPairs(base).select(col("doc_a"), col("doc_b"))
        .localCheckpoint()
      val clusters = graft.graph.Graph.fromEdges(
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .connectedComponents()
      val keep = base.join(clusters.select(col("id").as("doc_id"), col("comp")),
          Seq("doc_id"), "left")
        .filter(col("comp").isNull || col("comp") === col("doc_id"))
      val h = conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long") % 100
      keep.select(col("doc_id"),
          when(h < 80, "train").when(h < 90, "val").otherwise("test").as("split"))
        .orderBy(col("doc_id"))
    },

    // ----- q241: EPOCH-AWARE dedup-at-selection (r15 verdict item 6
    // — the mixes pillar's missing composition): a multi-epoch
    // training run must not re-select content it already trained on
    // under a different doc_id. The keep-list (q138's quality gate)
    // intersects the standing dedup clusters (q133's LSH-pair
    // connected components), and each cluster's ONE selected member
    // is its EARLIEST-EPOCH representative (epoch = doc_id % 3 here —
    // in production the crawl/ingest day; ties to the lowest id):
    // a near-dup family first seen in epoch 0 is suppressed in every
    // later epoch, which plain min-doc_id keep-lists (q133/q138) get
    // wrong whenever ids and arrival order disagree. Unclustered
    // survivors (no near-dup anywhere) select trivially. Scale: the
    // cluster machinery is exactly q133's (banded LSH, Pregel CC —
    // never all-pairs); the epoch choice adds ONE window over
    // cluster-partitioned rows (cluster sizes = duplicate-family
    // sizes, bounded). -----
    q("q241_epoch_dedup_select",
      duckPairsCtes(recursive = true,
        leadingCtes =
          s"""base AS (SELECT doc_id, text FROM documents
             |  WHERE ${TextAnalysis.duckQuality} >= 0.5),
             |""".stripMargin,
        source = "base") +
        """,
          |edges AS (SELECT doc_a AS a, doc_b AS b FROM good
          |          UNION SELECT doc_b, doc_a FROM good),
          |walk(a, b) AS (
          |  SELECT a, b FROM edges
          |  UNION SELECT a, a FROM edges
          |  UNION SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a),
          |cluster AS (SELECT a AS doc_id, min(b) AS cluster_id
          |            FROM walk GROUP BY a),
          |al AS (SELECT b.doc_id,
          |         coalesce(c.cluster_id, b.doc_id) AS cluster_id,
          |         b.doc_id % 3 AS epoch
          |       FROM base b LEFT JOIN cluster c ON c.doc_id = b.doc_id),
          |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
          |        ORDER BY epoch, doc_id) AS rk FROM al)
          |SELECT doc_id, cluster_id, CAST(epoch AS INTEGER) AS epoch,
          |  CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS INTEGER) AS selected
          |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val base = Tables.spread(Tables.t(s, dir, "documents"), "doc_id")
        .filter(TextAnalysis.quality(col("text")) >= 0.5)
        .select(col("doc_id"), col("text"))
      val pairs = lshVerifiedPairs(base).select(col("doc_a"), col("doc_b"))
        .localCheckpoint()
      val clusters = graft.graph.Graph.fromEdges(
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .connectedComponents()
      val al = base
        .join(clusters.select(col("id").as("doc_id"), col("comp")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("cluster_id"),
          pmod(col("doc_id"), lit(3)).as("epoch"))
      val first = min(struct(col("epoch"), col("doc_id")))
        .over(Window.partitionBy(col("cluster_id")))
      al.withColumn("f", first)
        .select(col("doc_id"), col("cluster_id"),
          col("epoch").cast("int").as("epoch"),
          (col("f") === struct(col("epoch"), col("doc_id")))
            .cast("int").as("selected"))
        .orderBy(col("doc_id"))
    },

    // ----- STREAMING ingest dedup: documents arrive as a stream (one
    // per second of event time, doc_id order) and each is flagged
    // against everything that arrived BEFORE it — the pipeline shape
    // of dedup-at-ingest. Per (band, bucket) keyed state holds the
    // bucket's shingle sets (the corpus signature state any global
    // streaming dedup must carry; the reference would hold the same
    // in MapState), rows seal on the watermark for determinism, and
    // the final min-over-buckets matches the relational oracle:
    // dup_of = smallest earlier doc sharing a band with Jaccard ≥ 0.1.
    // Shingles ride as exact sorted strings here; at corpus scale
    // switch to 64-bit gram hashes (q54's argument) to shrink state. -----
    q("q136_stream_dedup_minhash",
      duckPairsCtes(recursive = false) +
        "\nSELECT doc_b AS doc_id, min(doc_a) AS dup_of FROM good GROUP BY doc_b ORDER BY doc_id") {
      (s, dir) => StreamingDedup.minhashDedup(s, dir)._1
    },

    // ----- SimHash: 32-bit signature from frequency-weighted word
    // hashes (bit j votes ±1 per occurrence; sign → bit) -----
    q("q53_simhash",
      s"""WITH wrd AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents),
         |wh AS (SELECT doc_id, ${duckH32("word")} AS h FROM wrd),
         |bits AS (
         |  SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
         |  FROM wh CROSS JOIN (SELECT unnest(range(32)) AS j)
         |  GROUP BY doc_id, j)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN v > 0 THEN 2**j ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      val wh = Tables.t(s, dir, "documents")
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("word"))
        .withColumn("h", h32(col("word")))
      wh.select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(31))).as("j"))
        .groupBy(col("doc_id"), col("j"))
        .agg(sum(when(expr("(shiftright(h, j) & 1) = 1"), 1)
          .otherwise(-1)).as("v"))
        .groupBy(col("doc_id"))
        .agg(sum(when(col("v") > 0, pow(lit(2.0), col("j"))).otherwise(0.0))
          .cast("long").as("simhash"))
        .orderBy(col("doc_id"))
    },

    // ----- SimHash near-dup pairs: Hamming distance over signatures
    // (bit_count(xor) — the cheap second stage of the SimHash
    // pipeline; at scale, bucket by signature prefix instead of the
    // lang block to keep the pair space linear) -----
    q("q56b_simhash_pairs",
      s"""WITH $duckSimhash
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
         |ORDER BY doc_a, doc_b""") { (s, dir) =>
      val sh = simhashWithLang(s, dir)
      val a = sh.select(col("doc_id").as("doc_a"), col("lang"), col("simhash").as("h_a"))
      val b = sh.select(col("doc_id").as("doc_b"), col("lang"), col("simhash").as("h_b"))
      a.join(b, Seq("lang"))
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("int"))
        .filter(col("hamming") <= 6)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ----- SimHash pairs blocked by SIGNATURE BYTES instead of the
    // lang block — the q56b comment's scale path made real: each
    // signature fans out to 4 (byte-position, byte-value) buckets and
    // a pair is a candidate if it collides in ANY of them (LSH-style
    // OR-amplification; by pigeonhole every pair with hamming ≤ 3 is
    // guaranteed caught, higher distances probabilistically — the
    // explicit recall trade that keeps the pair space linear in the
    // corpus instead of quadratic per block). -----
    q("q56c_simhash_byte_blocked",
      s"""WITH $duckSimhash,
         |bytes AS (SELECT doc_id, simhash, j, (simhash >> (8*j)) & 255 AS b
         |          FROM sh CROSS JOIN (SELECT unnest(range(4)) AS j)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |           a.simhash AS ha, b.simhash AS hb
         |         FROM bytes a JOIN bytes b ON a.j = b.j AND a.b = b.b
         |           AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
         |FROM cand WHERE bit_count(xor(ha, hb)) <= 6
         |ORDER BY doc_a, doc_b""") { (s, dir) =>
      val sh = simhashWithLang(s, dir).select(col("doc_id"), col("simhash"))
      val bytes = sh.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("j"))
        .withColumn("b", expr("shiftright(simhash, 8*j) & 255"))
      val a = bytes.select(col("doc_id").as("doc_a"), col("j"), col("b"),
        col("simhash").as("ha"))
      val bb = bytes.select(col("doc_id").as("doc_b"), col("j"), col("b"),
        col("simhash").as("hb"))
      a.join(bb, Seq("j", "b"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("ha"), col("hb")).distinct()
        .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int"))
        .filter(col("hamming") <= 6)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ----- EDIT-DISTANCE near-dup pairs, LSH-blocked: the q56c
    // simhash byte-buckets bound the candidate space (linear in the
    // corpus), a cheap hamming pre-filter (≤ 10) keeps only
    // plausibly-close pairs, and the survivors verify with
    // levenshtein — computed with the THRESHOLDED form (O(k·n)
    // banded algorithm with early abandon, Spark 3.5+), because at
    // 100 TB the unbounded O(n²)-per-pair form is the cost bomb, not
    // the pair count. Catches character-level mutations (OCR noise,
    // truncation, small insertions) that shingle Jaccard undercounts. -----
    q("q191_edit_distance_pairs",
      s"""WITH $duckSimhash,
         |bytes AS (SELECT s.doc_id, s.simhash, d.text, j,
         |            (simhash >> (8*j)) & 255 AS b
         |          FROM sh s JOIN documents d USING (doc_id)
         |          CROSS JOIN (SELECT unnest(range(4)) AS j)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |           a.simhash AS ha, b.simhash AS hb,
         |           a.text AS ta, b.text AS tb
         |         FROM bytes a JOIN bytes b ON a.j = b.j AND a.b = b.b
         |           AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(levenshtein(ta, tb) AS INTEGER) AS dist
         |FROM cand
         |WHERE bit_count(xor(ha, hb)) <= 10 AND levenshtein(ta, tb) <= 30
         |ORDER BY doc_a, doc_b""") { (s, dir) =>
      // pair selection runs ENTIRELY on 8-byte signatures — the
      // hamming pre-filter cuts before the distinct, and full texts
      // join in only for the surviving pairs (shuffling text pairs
      // through the candidate distinct was the first cut's cost, 19 s
      // → the signature-only form at sf0.1)
      val docs = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
      // r17 OPT: the signature table feeds both self-join sides —
      // materialize the (doc-sized, 16 B/row) frame once instead of
      // replaying the explode + two-aggregation simhash fit per side.
      // r18 OPT (guide §2.3 — decide with small rows, move big rows
      // once): the text LENGTH rides the checkpoint (8 B/row), so the
      // levenshtein length bound |len_a − len_b| ≤ 30 — implied by
      // dist ≤ 30, so levenshtein(·,·,30) returns −1 on every pair it
      // drops — prunes candidates BEFORE the pair distinct and before
      // either text join; the full texts are fetched only for pairs
      // that can still pass. Output-identical by the implication.
      val sh = simhashWithLang(s, dir).select(col("doc_id"), col("simhash"))
        .join(docs.select(col("doc_id"), length(col("text")).as("len")),
          "doc_id")
        .localCheckpoint()
      val bytes = sh.select(col("doc_id"), col("simhash"), col("len"),
        explode(sequence(lit(0), lit(3))).as("j"))
        .withColumn("b", expr("shiftright(simhash, 8*j) & 255"))
      val a = bytes.select(col("doc_id").as("doc_a"), col("j"), col("b"),
        col("simhash").as("ha"), col("len").as("la"))
      val bb = bytes.select(col("doc_id").as("doc_b"), col("j"), col("b"),
        col("simhash").as("hb"), col("len").as("lb"))
      // r18 OPT (the q177 device, guide §2.2/§2.5): the verified-pair
      // stage is tiny in BYTES (16 B/pair) but huge per ROW (a bounded
      // levenshtein each) — AQE's byte-based coalescing folded it to 2
      // tasks (MetricsDump: 2 × 6.3 s); the explicit-count repartition
      // pins the fan-out so the verify runs cluster-wide. It keys on
      // doc_a ONLY: keyed identically to the distinct below it, the
      // exchange would be elided as already-satisfied and the coalesced
      // read would win (measured — the 2-task stage survived). The
      // localCheckpoint materializes the (tiny) verified result ONCE:
      // the final orderBy's range-partitioning SAMPLES its child, and
      // without the cut the whole levenshtein pipeline executed twice
      // (MetricsDump: two identical 10.5 s-taskSum stages).
      a.join(bb, Seq("j", "b"))
        .filter(col("doc_a") < col("doc_b")
          && bit_count(col("ha").bitwiseXOR(col("hb"))) <= 10
          && abs(col("la") - col("lb")) <= 30)
        .select(col("doc_a"), col("doc_b")).distinct()
        .repartition(s.sessionState.conf.numShufflePartitions,
          col("doc_a"))
        .join(docs.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
        .withColumn("dist", levenshtein(col("ta"), col("tb"), 30))
        .filter(col("dist") =!= -1)
        .select(col("doc_a"), col("doc_b"), col("dist").cast("int").as("dist"))
        .localCheckpoint()
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ----- shingle CONTAINMENT pairs (Broder's asymmetric measure):
    // |A∩B|/|A| and |A∩B|/|B| over the LSH candidate set — a short
    // doc quoted inside a long one scores near 1.0 on the short
    // side's containment while its Jaccard stays tiny (the union
    // washes it out), so this is the sub-document-duplication
    // detector Jaccard-only dedup misses. Same linear bucket-join
    // candidate space as q52. -----
    q("q192_containment_pairs",
      duckPairsCtes(recursive = false).split("pairs AS")(0) +
        """cont AS (
          |  SELECT doc_a, doc_b,
          |    round(len(list_intersect(x.shingles, y.shingles))::DOUBLE
          |      / len(x.shingles), 6) AS cont_a,
          |    round(len(list_intersect(x.shingles, y.shingles))::DOUBLE
          |      / len(y.shingles), 6) AS cont_b
          |  FROM cand JOIN shl x ON cand.doc_a = x.doc_id
          |            JOIN shl y ON cand.doc_b = y.doc_id)
          |SELECT doc_a, doc_b, cont_a, cont_b FROM cont
          |WHERE greatest(cont_a, cont_b) >= 0.5
          |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      val docs = Tables.t(s, dir, "documents")
      // r17 OPT: the shingle table feeds both verification sides —
      // materialize once (doc-sized) instead of re-shingling per side.
      // r18 OPT (guide §1.2/§2.3): the minhash signatures now ALSO
      // derive from this table (the pre-r18 lshCandidatePairs ran a
      // second full shingling pass), and verification runs on 64-bit
      // certified-hashed shingles (the lshVerifiedPairs device) —
      // |∩| and the two sizes, hence cont_a/cont_b, are identical
      // under an injective hash, at 8 B/element shuffle cost instead
      // of 3-word strings through both joins.
      val shlStr = docs
        .withColumn("w", split(lower(col("text")), " "))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), expr(sparkShingles).as("shingles"))
        .localCheckpoint()
      val shl = certifiedHashedShingles(shlStr)
      val cand = bucketPairs(minhashFromShingles(shlStr)
        .select(col("doc_id"),
          posexplode(array(col("m0"), col("m1"), col("m2"), col("m3")))
            .as(Seq("band", "bval"))))
      val inter = size(array_intersect(col("x_sh"), col("y_sh"))).cast("double")
      // r18 OPT (the q191 device): pin the candidate fan-out before
      // the per-pair set intersections (AQE coalesces the 16 B/pair
      // frame by bytes, not by per-row cost; doc_a-only keying keeps
      // the exchange from being elided against cand's distinct), and
      // materialize the (tiny) scored survivors once so the orderBy's
      // range sampling cannot re-execute the intersection pipeline.
      cand
        .repartition(s.sessionState.conf.numShufflePartitions,
          col("doc_a"))
        .join(shl.select(col("doc_id").as("doc_a"), col("shingles").as("x_sh")),
          "doc_a")
        .join(shl.select(col("doc_id").as("doc_b"), col("shingles").as("y_sh")),
          "doc_b")
        .select(col("doc_a"), col("doc_b"),
          round(inter / size(col("x_sh")), 6).as("cont_a"),
          round(inter / size(col("y_sh")), 6).as("cont_b"))
        .filter(greatest(col("cont_a"), col("cont_b")) >= 0.5)
        .localCheckpoint()
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ----- n-gram Jaccard near-dup pairs with (lang, source) blocking
    // (the blocking key is the scale lever: candidates never cross
    // blocks, so the join is a per-block local product) -----
    q("q54_ngram_jaccard",
      """WITH g AS (SELECT doc_id, lang, source,
        |    list_distinct(list_transform(range(1, length(text)-1),
        |                                 i -> substr(text, i, 3))) AS grams
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.grams, b.grams))::DOUBLE
        |    / len(list_distinct(a.grams || b.grams)) AS jacc
        |FROM g a JOIN g b
        |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
        |    / len(list_distinct(a.grams || b.grams)) >= 0.6
        |ORDER BY doc_a, doc_b""") { (s, dir) =>
      // NOTE on scale: exact blocked all-pairs verification is
      // inherently quadratic in the size of a duplicate cluster — on
      // corpora with heavy duplication run q50 (exact hash) and q52
      // (LSH candidates) first and reserve this operator for the
      // surviving candidate set.
      val g = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          // native codegen'd gram builder; grams ride as 64-bit hashes
          // (collision-free at any realistic gram count) sorted ONCE
          // per doc, so the per-pair intersection is a primitive-long
          // linear merge — no string deref in the quadratic inner loop
          array_sort(array_distinct(
            transform(char_ngrams(col("text"), 3), xxhash64(_)))).as("grams"))
        // materialize the gram table once: both sides of the self-join
        // read the cached copy instead of re-running ngram+hash+sort
        // per side (at cluster scale: checkpoint to parquet instead)
        .persist()
      val a = g.select(col("doc_id").as("doc_a"), col("lang"), col("source"), col("grams").as("g_a"))
      val b = g.select(col("doc_id").as("doc_b"), col("lang"), col("source"), col("grams").as("g_b"))
      val common = graft.functions.SortedIntersectSize
        .sorted_intersect_size_long(col("g_a"), col("g_b"))
      // |A∪B| = |A|+|B|-|A∩B| — no per-pair array materialization
      val jacc = common.cast("double") /
        (size(col("g_a")) + size(col("g_b")) - common)
      // size-ratio prefilter: J(A,B) >= t implies |A|/|B| >= t (since
      // |∩| <= |A| and |∪| >= |B|) — prunes most pairs before the
      // O(|A|+|B|) set ops ever run; results are provably unchanged
      // shuffle-hash, not broadcast: the gram arrays make rows wide, so
      // broadcasting the build side would serialize tens of MB through
      // the driver; hash-partitioning on the block key streams instead
      a.join(b.hint("shuffle_hash"), Seq("lang", "source"))
        .filter(col("doc_a") < col("doc_b")
          && size(col("g_a")) >= lit(0.6) * size(col("g_b"))
          && size(col("g_b")) >= lit(0.6) * size(col("g_a")))
        .withColumn("jacc", jacc)
        .filter(col("jacc") >= 0.6)
        .select(col("doc_a"), col("doc_b"), col("jacc"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ----- document fingerprint: bottom-3 sketch of char-4-gram
    // hashes (order-free, locality-preserving id for fast near-dup
    // pre-grouping) -----
    q("q55_fingerprint",
      s"""WITH g AS (SELECT doc_id,
         |    list_sort(list_distinct(list_transform(range(1, length(text)-2),
         |      i -> ${duckH32("substr(text, i, 4)")}))) AS hs
         |  FROM documents)
         |SELECT doc_id, array_to_string(hs[1:3], '-') AS fp
         |FROM g ORDER BY doc_id""") { (s, dir) =>
      Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          array_sort(array_distinct(transform(char_ngrams(col("text"), 4),
            g => conv(substring(md5(g), 1, 8), 16, 10).cast("long")))).as("hs"))
        .select(col("doc_id"),
          array_join(slice(col("hs"), 1, 3), "-").as("fp"))
        .orderBy(col("doc_id"))
    }
  )

  /** DuckDB CTE fragment computing (doc_id, lang, simhash). */
  private val duckSimhash =
    s"""wrd AS (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS word FROM documents),
       |wh AS (SELECT doc_id, lang, ${duckH32("word")} AS h FROM wrd),
       |bits AS (
       |  SELECT doc_id, lang, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM wh CROSS JOIN (SELECT unnest(range(32)) AS j)
       |  GROUP BY doc_id, lang, j),
       |sh AS (SELECT doc_id, lang,
       |  CAST(sum(CASE WHEN v > 0 THEN 2**j ELSE 0 END) AS BIGINT) AS simhash
       |FROM bits GROUP BY doc_id, lang)""".stripMargin

  /** (doc_id, lang, simhash) — shared by q53's signature dump and
    * q56b's pair stage. */
  private def simhashWithLang(s: SparkSession, dir: String): DataFrame = {
    // r18 OPT (guide §2.5, the Tables.spread device): the fit's
    // explode + per-word md5 ran as ONE task on the single-split scan
    val wh = Tables.spread(Tables.t(s, dir, "documents"), "doc_id")
      .select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), " ")).as("word"))
      .withColumn("h", h32(col("word")))
    wh.select(col("doc_id"), col("lang"), col("h"),
        explode(sequence(lit(0), lit(31))).as("j"))
      .groupBy(col("doc_id"), col("lang"), col("j"))
      .agg(sum(when(expr("(shiftright(h, j) & 1) = 1"), 1).otherwise(-1)).as("v"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(when(col("v") > 0, pow(lit(2.0), col("j"))).otherwise(0.0))
        .cast("long").as("simhash"))
  }

  /** Shared MinHash signature computation (4 seeded hashes). */
  /** The q52 pair pipeline, shared with the cluster step (q133):
    * LSH-bucket candidates verified by exact shingle Jaccard ≥ 0.1. */
  private def lshVerifiedPairs(s: SparkSession, dir: String): DataFrame =
    lshVerifiedPairs(Tables.t(s, dir, "documents"))

  /** @param forceStringVerify test dial: skip the hashed-shingle
    *   verify and ship the string arrays (the pre-r17 plan), so
    *   DedupSpec can pin hashed ≡ string. */
  private[pipeline] def lshVerifiedPairs(docs: DataFrame,
      forceStringVerify: Boolean = false): DataFrame = {
    // r17 OPT (guide §1.2 — don't compute things twice): ONE shingling
    // pass. The string shingle table checkpoints once and feeds the
    // injectivity certificate, the minhash signatures, the hashed
    // verify arrays and both verification join sides; pre-r17 each of
    // those re-ran the split+shingle (and for the signatures also the
    // md5) pass over the corpus — four full passes per call. Exploding
    // from the materialized column is InferFiltersFromGenerate-safe
    // (nothing to re-evaluate below a checkpoint — the r8 hazard only
    // bites on explode over a PROJECTED transform).
    // r18 OPT (guide §2.5, the Tables.spread device): the shingling
    // pass ran as ONE task on a single-split scan at any core count
    val shlStr = graft.Tables.spread(docs, "doc_id")
      .withColumn("w", split(lower(col("text")), " "))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), expr(sparkShingles).as("shingles"))
      .localCheckpoint()
    // r17 (r16 verdict item 4): the Jaccard-verify join ships every
    // candidate doc's shingle SET through the shuffle twice; at 5M
    // docs the STRING arrays (~3-word shingles) exhausted one host's
    // shuffle disk (the q241 x1000 honest negative). Verify on 64-bit
    // HASHED shingles instead — 8 bytes per element — after
    // CERTIFYING injectivity on this corpus: count(distinct shingle)
    // == count(distinct xxhash64(shingle)) means the hash is a
    // bijection between the two universes, so |A∩B| and |A∪B| — and
    // therefore the Jaccard and the ≥ 0.1 fence — are IDENTICAL on
    // hashed sets. One map-side-combinable aggregate buys a provably
    // exact (per run, no probabilistic argument) 3-5× shuffle-volume
    // cut; a failed certificate (≈ n²/2⁶⁴ odds) falls back to the
    // string plan with a WARN.
    val shl = certifiedHashedShingles(shlStr, forceStringVerify)
    // The scalable LSH shape: explode signatures into (band, value)
    // bucket rows and equi-join on the bucket key — a hash-partition
    // join linear in bucket sizes. An OR-of-bands join condition
    // would compile to a nested-loop O(n²) plan instead.
    val sig = minhashFromShingles(shlStr)
    val bands = sig.select(col("doc_id"),
      posexplode(array(col("m0"), col("m1"), col("m2"), col("m3")))
        .as(Seq("band", "bval")))
    val cand = bucketPairs(bands)
    val jacc = size(array_intersect(col("x_sh"), col("y_sh"))).cast("double") /
      size(array_distinct(concat(col("x_sh"), col("y_sh"))))
    // r18 OPT (the q191/q192 device): pin the candidate fan-out before
    // the per-pair set arithmetic — AQE coalesces the 16 B/pair frame
    // by bytes while each row costs an O(|A|+|B|) intersection; keyed
    // on doc_a only so the exchange is not elided against the distinct
    cand
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_a"))
      .join(shl.select(col("doc_id").as("doc_a"), col("shingles").as("x_sh")), "doc_a")
      .join(shl.select(col("doc_id").as("doc_b"), col("shingles").as("y_sh")), "doc_b")
      .withColumn("jacc", jacc)
      .filter(col("jacc") >= 0.1)
      .select(col("doc_a"), col("doc_b"), col("jacc"))
  }

  /** The r16/r17 certified-hash device, factored for reuse (r18):
    * set arithmetic (|∩|, sizes, and anything derived from them) is
    * IDENTICAL on 64-bit hashed shingles whenever the hash is
    * injective on this corpus's shingle universe — certified per run
    * by one map-side-combinable aggregate (count distinct shingles ==
    * count distinct hashes). 8 bytes/element instead of ~3-word
    * strings through every verification shuffle; a failed certificate
    * (≈ n²/2⁶⁴ odds) falls back to the string plan with a WARN. The
    * certificate reads the checkpointed shingle table (docs with < 3
    * words contribute no rows there, exactly as the pre-r17
    * CASE-guarded raw-scan form contributed none). */
  private[pipeline] def certifiedHashedShingles(shlStr: DataFrame,
      forceStringVerify: Boolean = false): DataFrame = {
    val useHashed = !forceStringVerify && {
      val c = shlStr
        .select(explode(col("shingles")).as("s"))
        .agg(count_distinct(col("s")).as("ns"),
          count_distinct(xxhash64(col("s"))).as("nh")).head
      val ok = c.getLong(0) == c.getLong(1)
      if (!ok) println("[lsh-verify] WARN 64-bit shingle hashing is " +
        "NOT injective on this corpus (distinct shingles " +
        s"${c.getLong(0)} vs distinct hashes ${c.getLong(1)}) — " +
        "verifying on string shingles")
      ok
    }
    if (useHashed)
      shlStr.select(col("doc_id"),
        expr("transform(shingles, x -> xxhash64(x))").as("shingles"))
    else shlStr
  }

  /** Distinct (doc_a < doc_b) pairs sharing any LSH bucket — the
    * candidate equi-join shared by Jaccard verification and q192's
    * containment scoring. */
  private def bucketPairs(bands: DataFrame): DataFrame = {
    val a = bands.select(col("doc_id").as("doc_a"), col("band"), col("bval"))
    val b = bands.select(col("doc_id").as("doc_b"), col("band"), col("bval"))
    a.join(b, Seq("band", "bval"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** DuckDB CTE chain ending in `good(doc_a, doc_b, jacc)` — the
    * oracle twin of [[lshVerifiedPairs]]. `recursive` prepends the
    * RECURSIVE keyword for callers that extend the chain with a
    * recursive CTE. */
  private[pipeline] def duckPairsCtes(recursive: Boolean,
      leadingCtes: String = "", source: String = "documents"): String = {
    val kw = if (recursive) "RECURSIVE " else ""
    s"""WITH $kw${leadingCtes}words AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM $source),
       |shl AS (SELECT doc_id, $duckShingles AS shingles FROM words WHERE len(w) >= 3),
       |sh AS (SELECT doc_id, unnest(shingles) AS s FROM shl),
       |sig AS (SELECT doc_id,
       |    min(${duckBandHash("s", 0)}) AS m0, min(${duckBandHash("s", 1)}) AS m1,
       |    min(${duckBandHash("s", 2)}) AS m2, min(${duckBandHash("s", 3)}) AS m3
       |  FROM sh GROUP BY doc_id),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |   AND (a.m0 = b.m0 OR a.m1 = b.m1 OR a.m2 = b.m2 OR a.m3 = b.m3)),
       |pairs AS (
       |  SELECT doc_a, doc_b,
       |    len(list_intersect(x.shingles, y.shingles))::DOUBLE
       |      / len(list_distinct(x.shingles || y.shingles)) AS jacc
       |  FROM cand JOIN shl x ON cand.doc_a = x.doc_id
       |            JOIN shl y ON cand.doc_b = y.doc_id),
       |good AS (SELECT * FROM pairs WHERE jacc >= 0.1)""".stripMargin
  }

  /** DuckDB oracle shared by q166 (recompute) and q176 (persisted
    * index) — both compute the same delta-vs-corpus verdict. */
  private def duckIncrementalOracle: String =
    duckPairsCtes(recursive = false).split("cand AS")(0) +
      s"""sd AS (SELECT * FROM sig WHERE doc_id % 10 = 9),
        |sc AS (SELECT * FROM sig WHERE doc_id % 10 != 9),
        |cand AS (
        |  SELECT DISTINCT d.doc_id AS doc_n, c.doc_id AS doc_o
        |  FROM sd d JOIN sc c
        |    ON d.m0 = c.m0 OR d.m1 = c.m1 OR d.m2 = c.m2 OR d.m3 = c.m3),
        |ver AS (
        |  SELECT doc_n, doc_o FROM cand
        |  JOIN shl x ON cand.doc_n = x.doc_id
        |  JOIN shl y ON cand.doc_o = y.doc_id
        |  WHERE len(list_intersect(x.shingles, y.shingles))::DOUBLE
        |      / len(list_distinct(x.shingles || y.shingles)) >= 0.1),
        |agg AS (SELECT doc_n, count(*) AS n_dups, min(doc_o) AS keeper
        |        FROM ver GROUP BY doc_n)
        |SELECT d.doc_id, coalesce(agg.n_dups, 0) AS n_dups, agg.keeper,
        |  coalesce(agg.n_dups, 0) = 0 AS is_new
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 9) d
        |LEFT JOIN agg ON agg.doc_n = d.doc_id
        |ORDER BY doc_id""".stripMargin

  /** The incremental (delta-vs-corpus) verdict, shared by q166
    * (corpus side computed in-plan) and the persisted-index path
    * ([[DedupIndex.dedupDelta]], corpus side read from parquet):
    * candidates = delta bands × corpus bands ONLY (never corpus ×
    * corpus), verified by exact shingle Jaccard, aggregated into the
    * per-delta-doc (n_dups, keeper, is_new) an ingest pipeline acts
    * on. When the corpus side carries the index's partition columns
    * (`pb` on bands, `pd` on shingles, bucketed at `fanOuts`), they
    * join too and the delta side is broadcast — that is what lets
    * Spark dynamically prune index partitions, keeping per-delta I/O
    * proportional to the delta's bucket footprint rather than the
    * corpus's age. */
  private[pipeline] def incrementalDedup(delta: DataFrame,
      corpusBands: DataFrame, corpusShingles: DataFrame,
      fanOuts: Option[DedupIndex.Meta] = None): DataFrame = {
    val hasPb = corpusBands.columns.contains("pb")
    val hasPd = corpusShingles.columns.contains("pd")
    require(!(hasPb || hasPd) || fanOuts.isDefined,
      "partitioned index frames need the index's fan-outs")
    val dBands0 = DedupIndex.bandRows(delta)
      .select(col("doc_id").as("doc_n"), col("band"), col("bval"))
    val dBands =
      if (!hasPb) dBands0
      else broadcast(dBands0.withColumn("pb",
        pmod(col("bval"), lit(fanOuts.get.bandBuckets))))
    val bandKeys = if (hasPb) Seq("pb", "band", "bval") else Seq("band", "bval")
    val cand = dBands
      .join(corpusBands.select(
        (col("doc_id").as("doc_o") +: bandKeys.map(col)): _*), bandKeys)
      .select(col("doc_n"), col("doc_o")).distinct()
    val jacc = size(array_intersect(col("x_sh"), col("y_sh"))).cast("double") /
      size(array_distinct(concat(col("x_sh"), col("y_sh"))))
    val candX = cand
      .join(DedupIndex.shingleRows(delta)
        .select(col("doc_id").as("doc_n"), col("shingles").as("x_sh")), "doc_n")
    val shKeyed =
      if (hasPd) candX.withColumn("pd", pmod(col("doc_o"), lit(fanOuts.get.docBuckets)))
      else candX
    val shKeys = if (hasPd) Seq("doc_o", "pd") else Seq("doc_o")
    val agg = shKeyed
      .join(corpusShingles.select(
        (col("doc_id").as("doc_o") +: (shKeys.drop(1).map(col) :+
          col("shingles").as("y_sh"))): _*), shKeys)
      .filter(jacc >= 0.1)
      .groupBy(col("doc_n"))
      .agg(count(lit(1)).as("nd"), min(col("doc_o")).as("keeper"))
    delta.select(col("doc_id"))
      .join(agg.withColumnRenamed("doc_n", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("nd"), lit(0L)).as("n_dups"),
        col("keeper"), (coalesce(col("nd"), lit(0L)) === 0).as("is_new"))
      .orderBy(col("doc_id"))
  }

  private[pipeline] def minhashSignatures(docs: DataFrame): DataFrame = {
    // r18 OPT: spread the single-split scan (one shingle+md5 task)
    val sh = graft.Tables.spread(docs, "doc_id")
      .withColumn("w", split(lower(col("text")), " "))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(sparkShingles)).as("s"))
      .select(col("doc_id"), md5(col("s")).as("d")) // one digest per shingle
    sh.groupBy(col("doc_id")).agg(
      min(digestSlice(col("d"), 0)).as("m0"),
      min(digestSlice(col("d"), 1)).as("m1"),
      min(digestSlice(col("d"), 2)).as("m2"),
      min(digestSlice(col("d"), 3)).as("m3"))
  }

  /** [[minhashSignatures]] over an already-materialized (doc_id,
    * shingles) frame — same rows into the same min aggregates, minus
    * the re-shingling pass (r17 OPT; only safe on materialized
    * inputs, where explode-over-column carries no
    * InferFiltersFromGenerate hazard). */
  private[pipeline] def minhashFromShingles(shl: DataFrame): DataFrame =
    shl.select(col("doc_id"), explode(col("shingles")).as("s"))
      .select(col("doc_id"), md5(col("s")).as("d"))
      .groupBy(col("doc_id")).agg(
        min(digestSlice(col("d"), 0)).as("m0"),
        min(digestSlice(col("d"), 1)).as("m1"),
        min(digestSlice(col("d"), 2)).as("m2"),
        min(digestSlice(col("d"), 3)).as("m3"))
}
