package graft.pipeline

import graft.{QueryDef, QueryModule, Tables}
import graft.streaming.Drain
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-quality curation operators — the rule-based filtering,
  * sharding, drift-monitoring, and quality-aware canonicalization
  * layer of a training-data pipeline. The reference
  * (linweijiang/Flink-1.8-SourceCode) supplies the relational
  * machinery these compose from (flink-table scalar functions,
  * aggregations and joins — flink-table/flink-table-planner);
  * the operators themselves implement public-paper curation
  * heuristics (Rae et al. 2021 "Gopher" §A1.1 quality rules;
  * population-stability-index drift monitoring; RefinedWeb-style
  * quality-ranked duplicate canonicalization, Penedo et al. 2023).
  *
  * House determinism rules: every emitted float is a single IEEE op
  * on exact integer counts (identical in any engine) or an integer
  * micro-unit sum (order-free), rounded at the output boundary;
  * cross-engine hashes are md5 hex prefixes.
  */
object Quality extends QueryModule {

  import Dedup.{duckH32, duckH52, h32, h52}

  private val stopList = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The composite Gopher gate as ONE boolean over a raw documents
    * frame — the shared predicate q208 reports on and q221 filters
    * with (QualitySpec's bitmask↔passed check pins the two against
    * each other; the thresholds live only here and in the oracle
    * strings). */
  private[pipeline] def gopherPass: Column = {
    val w = split(col("text"), " ")
    val wl = split(lower(col("text")), " ")
    val nWords = size(w)
    val mwl = length(regexp_replace(col("text"), " ", "")).cast("double") / nWords
    val sym = length(regexp_replace(lower(col("text")), "[a-z0-9 ]", ""))
      .cast("double") / col("n_chars")
    val stopHits = size(array_intersect(array_distinct(wl),
      array(stopList.map(lit): _*)))
    val dup = lit(1.0) - size(array_distinct(wl)).cast("double") / nWords
    (nWords >= 30 && nWords <= 100000) &&
      (mwl >= 3.0 && mwl <= 5.0) && (sym <= 0.1) &&
      (stopHits >= 1) && (dup <= 0.6)
  }

  /** The identical gate as a DuckDB boolean over `documents` rows. */
  private[pipeline] def duckGopherPass: String =
    s"""(len(string_split(text, ' ')) BETWEEN 30 AND 100000
       | AND (length(replace(text, ' ', ''))::DOUBLE
       |      / len(string_split(text, ' '))) BETWEEN 3.0 AND 5.0
       | AND (length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE
       |      / n_chars) <= 0.1
       | AND len(list_intersect(list_distinct(string_split(lower(text), ' ')),
       |      [${stopList.map("'" + _ + "'").mkString(",")}])) >= 1
       | AND (1.0 - len(list_distinct(string_split(lower(text), ' ')))::DOUBLE
       |      / len(string_split(text, ' '))) <= 0.6)""".stripMargin

  def queries: Seq[QueryDef] = Seq(

    // ----- Gopher-style quality ruleset (Rae et al. 2021 §A1.1): the
    // composite rule filter every web-scale curation pipeline runs
    // before anything expensive — word-count bounds, mean-word-length
    // band, symbol-to-char ratio, stopword evidence, duplicate-word
    // fraction. Emits the full diagnostic row (each measured value,
    // the rule bitmask, the verdict) so downstream can audit WHY a
    // doc was dropped, not just that it was. Plan: pure per-doc map
    // over the scan — zero corpus shuffle at any scale (PlanSpec:
    // no exchange before the output sort); at 100 TB this is the
    // cheap first pass that shrinks everything after it. Thresholds
    // are calibrated to this corpus family so every rule has both
    // passing and failing docs (r3's symbol rule is the exception —
    // the synthetic text is alphanumeric — and is kept because the
    // ruleset is the operator, not one threshold). -----
    q("q208_gopher_rules",
      s"""WITH m AS (SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_words,
        |    length(replace(text, ' ', ''))::DOUBLE
        |      / len(string_split(text, ' ')) AS mwl,
        |    length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))::DOUBLE
        |      / n_chars AS sym,
        |    len(list_intersect(list_distinct(string_split(lower(text), ' ')),
        |      [${stopList.map("'" + _ + "'").mkString(",")}])) AS stop_hits,
        |    1.0 - len(list_distinct(string_split(lower(text), ' ')))::DOUBLE
        |      / len(string_split(text, ' ')) AS dup
        |  FROM documents),
        |r AS (SELECT doc_id, n_words, mwl, sym, stop_hits, dup,
        |    CAST(n_words BETWEEN 30 AND 100000 AS INTEGER) AS r1,
        |    CAST(mwl BETWEEN 3.0 AND 5.0 AS INTEGER) AS r2,
        |    CAST(sym <= 0.1 AS INTEGER) AS r3,
        |    CAST(stop_hits >= 1 AS INTEGER) AS r4,
        |    CAST(dup <= 0.6 AS INTEGER) AS r5
        |  FROM m)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  round(mwl, 6) AS mean_word_len, round(sym, 6) AS symbol_frac,
        |  CAST(stop_hits AS BIGINT) AS stop_hits,
        |  round(dup, 6) AS dup_word_frac,
        |  CAST(r1 + 2*r2 + 4*r3 + 8*r4 + 16*r5 AS INTEGER) AS rules,
        |  CAST(r1*r2*r3*r4*r5 AS INTEGER) AS passed
        |FROM r ORDER BY doc_id""") { (s, dir) =>
      val w = split(col("text"), " ")
      val wl = split(lower(col("text")), " ")
      val m = Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          size(w).as("n_words"),
          (length(regexp_replace(col("text"), " ", "")).cast("double")
            / size(w)).as("mwl"),
          (length(regexp_replace(lower(col("text")), "[a-z0-9 ]", ""))
            .cast("double") / col("n_chars")).as("sym"),
          size(array_intersect(array_distinct(wl),
            array(stopList.map(lit): _*))).as("stop_hits"),
          (lit(1.0) - size(array_distinct(wl)).cast("double") / size(w))
            .as("dup"),
          // the shared composite gate (q221 filters on exactly this);
          // QualitySpec pins it against the per-rule bitmask below
          gopherPass.cast("int").as("passed"))
      val r1 = (col("n_words") >= 30 && col("n_words") <= 100000).cast("int")
      val r2 = (col("mwl") >= 3.0 && col("mwl") <= 5.0).cast("int")
      val r3 = (col("sym") <= 0.1).cast("int")
      val r4 = (col("stop_hits") >= 1).cast("int")
      val r5 = (col("dup") <= 0.6).cast("int")
      m.select(col("doc_id"), col("n_words").cast("long").as("n_words"),
          round(col("mwl"), 6).as("mean_word_len"),
          round(col("sym"), 6).as("symbol_frac"),
          col("stop_hits").cast("long").as("stop_hits"),
          round(col("dup"), 6).as("dup_word_frac"),
          (r1 + r2 * 2 + r3 * 4 + r4 * 8 + r5 * 16).as("rules"),
          col("passed"))
        .orderBy(col("doc_id"))
    },

    // ----- deterministic training-shard assignment: the write path
    // of a training-data build — every doc hashes to a shard, and
    // within a shard the write order is a stable content-independent
    // hash (the global shuffle training ingestion needs, with no
    // global sort: at 100 TB the physical form is
    // repartition(shard) + sortWithinPartitions(u), each shard file
    // written independently). This op emits the shard MANIFEST the
    // build would ship: per-shard doc/char totals, the corpus
    // fraction, and the first three docs in shard order — the heads
    // ride the bounded TopK aggregate (k=3, score = −u), NOT a
    // per-shard window sort, so no task ever holds a shard's full
    // contents (the q179/q193 lesson; PlanSpec: no Window). -----
    q("q209_shard_manifest",
      s"""WITH d AS (SELECT doc_id, n_chars,
        |    ${duckH32("'shard:' || doc_id")} % 8 AS shard,
        |    ${duckH52("'ord:' || doc_id")} AS u
        |  FROM documents),
        |s AS (SELECT shard, count(*) AS n_docs, sum(n_chars) AS tot_chars
        |      FROM d GROUP BY shard),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nt FROM s),
        |r AS (SELECT shard, doc_id,
        |        row_number() OVER (PARTITION BY shard ORDER BY u, doc_id) AS rn
        |      FROM d)
        |SELECT CAST(s.shard AS INTEGER) AS shard,
        |  CAST(s.n_docs AS BIGINT) AS n_docs,
        |  CAST(s.tot_chars AS BIGINT) AS tot_chars,
        |  round(s.n_docs::DOUBLE / t.nt::DOUBLE, 6) AS frac,
        |  CAST(max(CASE WHEN r.rn = 1 THEN r.doc_id END) AS BIGINT) AS d1,
        |  CAST(max(CASE WHEN r.rn = 2 THEN r.doc_id END) AS BIGINT) AS d2,
        |  CAST(max(CASE WHEN r.rn = 3 THEN r.doc_id END) AS BIGINT) AS d3
        |FROM s JOIN r USING (shard), t
        |GROUP BY s.shard, s.n_docs, s.tot_chars, t.nt
        |ORDER BY shard""") { (s, dir) =>
      import graft.functions.TopK
      val d = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          pmod(h32(concat(lit("shard:"), col("doc_id"))), lit(8)).as("shard"),
          h52(concat(lit("ord:"), col("doc_id"))).as("u"))
      // persist the 8-row manifest before self-joining its total:
      // unlike q203 (where AQE exchange reuse dedupes the branches),
      // column pruning rewrites the total branch into a DIFFERENT
      // cheaper aggregation (count-only, no TopK) whose exchange
      // cannot be reused — probed r13: without this the corpus is
      // scanned twice. persist (not localCheckpoint) keeps the full
      // lineage visible to the plan guards; the cached payload is
      // 8 rows.
      val manifest = d.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("tot_chars"),
          TopK.topK(3)(-col("u").cast("double"), col("doc_id")).as("head"))
        .persist()
      manifest
        .crossJoin(broadcast(manifest.agg(sum(col("n_docs")).as("nt"))))
        .select(col("shard").cast("int").as("shard"),
          col("n_docs").cast("long").as("n_docs"),
          col("tot_chars").cast("long").as("tot_chars"),
          round(col("n_docs").cast("double") / col("nt").cast("double"), 6)
            .as("frac"),
          element_at(col("head"), 1).getField("id").as("d1"),
          element_at(col("head"), 2).getField("id").as("d2"),
          element_at(col("head"), 3).getField("id").as("d3"))
        .orderBy(col("shard"))
    },

    // ----- distribution-drift monitor (population stability index):
    // compare a reference slice of the corpus against the current
    // slice over a bucketized quality proxy (doc length) — the
    // standing health check a continuously-ingesting pipeline runs
    // to catch upstream drift before it poisons a training mix.
    // Slices here are doc_id parity (the reproducible stand-in for
    // "last month vs this month"); buckets are fixed-width with
    // add-one smoothing so empty cells stay defined. PSI terms are
    // (p_cur−p_ref)·log2(p_cur/p_ref) — each p a single division of
    // exact counts, each term quantized to integer micro-bits BEFORE
    // the total (fp addition is order-dependent; integer sums are
    // not — the q199/q204 device). Plan: one map-side-combined
    // (slice, bucket) count — 20 groups — then arithmetic on a
    // 10-row frame; nothing after the first agg scales with the
    // corpus. -----
    q("q210_psi_drift",
      """WITH d AS (SELECT doc_id % 2 AS grp,
        |    least(9, CAST(floor(n_chars / 64) AS BIGINT)) AS bucket
        |  FROM documents),
        |b AS (SELECT unnest(range(10)) AS bucket),
        |cr AS (SELECT bucket, count(*) AS n FROM d WHERE grp = 0 GROUP BY bucket),
        |cc AS (SELECT bucket, count(*) AS n FROM d WHERE grp = 1 GROUP BY bucket),
        |j AS (SELECT b.bucket,
        |        coalesce(cr.n, 0) AS n_ref, coalesce(cc.n, 0) AS n_cur
        |      FROM b LEFT JOIN cr USING (bucket) LEFT JOIN cc USING (bucket)),
        |t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM j),
        |p AS (SELECT bucket, n_ref, n_cur,
        |        (n_ref + 1)::DOUBLE / (t.tr + 10)::DOUBLE AS p_ref,
        |        (n_cur + 1)::DOUBLE / (t.tc + 10)::DOUBLE AS p_cur
        |      FROM j, t),
        |q AS (SELECT bucket, n_ref, n_cur, p_ref, p_cur,
        |        CAST(floor(1000000.0 * ((p_cur - p_ref) * log2(p_cur / p_ref)))
        |          AS BIGINT) AS tq
        |      FROM p)
        |SELECT CAST(bucket AS INTEGER) AS bucket,
        |  CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
        |  round(p_ref, 6) AS p_ref, round(p_cur, 6) AS p_cur,
        |  tq::DOUBLE / 1000000.0 AS psi_term,
        |  (SELECT sum(tq) FROM q)::DOUBLE / 1000000.0 AS psi_total
        |FROM q ORDER BY bucket""") { (s, dir) =>
      val qd = psiWithP(s, dir).withColumn("tq",
        floor(psiPreQuant).cast("long"))
      qd.crossJoin(broadcast(qd.agg(sum(col("tq")).as("tot"))))
        .select(col("bucket").cast("int").as("bucket"),
          col("n_ref").cast("long").as("n_ref"),
          col("n_cur").cast("long").as("n_cur"),
          round(col("p_ref"), 6).as("p_ref"),
          round(col("p_cur"), 6).as("p_cur"),
          (col("tq").cast("double") / lit(1000000.0)).as("psi_term"),
          (col("tot").cast("double") / lit(1000000.0)).as("psi_total"))
        .orderBy(col("bucket"))
    },

    // ----- q237: EMBEDDING distribution drift — the q210 PSI device
    // pointed at the representation space (the monitor an embedding
    // ingest pipeline runs beside the text-side length PSI): fit the
    // deterministic k-means ONCE on the REFERENCE corpus (vec_id%10≠9
    // — the standing model, the q176 index posture), assign EVERY
    // vector against those frozen centroids (one broadcast-centroid
    // map, corpus never shuffles), and compare the reference vs
    // delta cluster-occupancy histograms with the same add-1-smoothed
    // micro-unit PSI quantization q210 uses (floor(1e6·(p_cur−p_ref)
    // ·log2(p_cur/p_ref)) — the identical guarded expression). New
    // data drifting into new regions of embedding space concentrates
    // delta mass in few clusters and the PSI total flags it. Oracle
    // replays the ref-only Lloyd's fit (the q135 CTE chain filtered
    // to the reference) plus an assign-all pass against the final
    // centroids. -----
    q("q237_embed_drift_psi",
      s"""WITH ${Similarity.duckLloydCtes(8, 2, "WHERE vec_id % 10 <> 9")},
        |fa AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |         unnest(range(len(embedding))) AS i FROM embeddings),
        |dall AS (SELECT f.vec_id, c.cluster,
        |           round(sum((f.x - c.c) * (f.x - c.c)), 6) AS dist
        |         FROM fa f JOIN c2 c ON c.i = f.i GROUP BY 1, 2),
        |aall AS (SELECT vec_id, cluster FROM (
        |         SELECT vec_id, cluster, row_number() OVER (
        |           PARTITION BY vec_id ORDER BY dist, cluster) AS rk
        |         FROM dall) WHERE rk = 1),
        |b AS (SELECT unnest(range(8)) AS cluster),
        |cr AS (SELECT cluster, count(*) AS n FROM aall
        |       WHERE vec_id % 10 <> 9 GROUP BY cluster),
        |cc AS (SELECT cluster, count(*) AS n FROM aall
        |       WHERE vec_id % 10 = 9 GROUP BY cluster),
        |j AS (SELECT b.cluster,
        |        coalesce(cr.n, 0) AS n_ref, coalesce(cc.n, 0) AS n_cur
        |      FROM b LEFT JOIN cr USING (cluster)
        |             LEFT JOIN cc USING (cluster)),
        |t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM j),
        |p AS (SELECT cluster, n_ref, n_cur,
        |        (n_ref + 1)::DOUBLE / (t.tr + 8)::DOUBLE AS p_ref,
        |        (n_cur + 1)::DOUBLE / (t.tc + 8)::DOUBLE AS p_cur
        |      FROM j, t),
        |q AS (SELECT cluster, n_ref, n_cur, p_ref, p_cur,
        |        CAST(floor(1000000.0 * ((p_cur - p_ref) * log2(p_cur / p_ref)))
        |          AS BIGINT) AS tq
        |      FROM p)
        |SELECT CAST(cluster AS INTEGER) AS cluster,
        |  CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
        |  round(p_ref, 6) AS p_ref, round(p_cur, 6) AS p_cur,
        |  tq::DOUBLE / 1000000.0 AS psi_term,
        |  (SELECT sum(tq) FROM q)::DOUBLE / 1000000.0 AS psi_total
        |FROM q ORDER BY cluster""".stripMargin) { (s, dir) =>
      val qd = embedPsiWithP(s, dir).withColumn("tq",
        floor(psiPreQuant).cast("long"))
      qd.crossJoin(broadcast(qd.agg(sum(col("tq")).as("tot"))))
        .select(col("cluster").cast("int").as("cluster"),
          col("n_ref").cast("long").as("n_ref"),
          col("n_cur").cast("long").as("n_cur"),
          round(col("p_ref"), 6).as("p_ref"),
          round(col("p_cur"), 6).as("p_cur"),
          (col("tq").cast("double") / lit(1000000.0)).as("psi_term"),
          (col("tot").cast("double") / lit(1000000.0)).as("psi_total"))
        .orderBy(col("cluster"))
    },

    // ----- quality-aware duplicate canonicalization (the RefinedWeb
    // policy, Penedo et al. 2023): when a near-dup cluster is found,
    // keep the HIGHEST-QUALITY member, not the arbitrary smallest id
    // (q133's min-label canonical is the lineage-stable choice; this
    // is the quality-greedy one — both policies over the SAME cluster
    // machinery, q52 LSH pairs → Pregel components). Canonical =
    // argmax by (quality score, doc_id) — resolved relationally as
    // max-score-then-max-id (two tiny per-cluster aggs), never a
    // cluster-wide window. Singletons keep themselves. Plan adds two
    // cluster-keyed aggs + equi joins on top of q133's bucketed
    // shapes — nothing quadratic, nothing cluster-size-bounded in
    // one task. -----
    q("q211_quality_canonical",
      Dedup.duckPairsCtes(recursive = true) +
        s""",
          |edges AS (SELECT doc_a AS a, doc_b AS b FROM good
          |          UNION SELECT doc_b, doc_a FROM good),
          |walk(a, b) AS (
          |  SELECT a, b FROM edges
          |  UNION SELECT a, a FROM edges
          |  UNION SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a),
          |cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM walk GROUP BY a),
          |m AS (SELECT d.doc_id,
          |        coalesce(cl.cluster_id, d.doc_id) AS cluster_id,
          |        ${TextAnalysis.duckQuality} AS q
          |      FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
          |bq AS (SELECT cluster_id, max(q) AS best_q FROM m GROUP BY cluster_id),
          |bd AS (SELECT m.cluster_id, max(m.doc_id) AS best_doc
          |       FROM m JOIN bq ON m.cluster_id = bq.cluster_id
          |                     AND m.q = bq.best_q
          |       GROUP BY m.cluster_id)
          |SELECT m.doc_id, m.cluster_id, m.q,
          |  CAST(m.doc_id = bd.best_doc AS INTEGER) AS keep
          |FROM m JOIN bd USING (cluster_id)
          |ORDER BY m.doc_id""".stripMargin) { (s, dir) =>
      canonicalize(Tables.t(s, dir, "documents"))
    },

    // ----- IN-ENGINE quality-classifier training: full-batch
    // logistic regression trained by gradient descent INSIDE the
    // engine — the fastText-style learned quality filter (Joulin et
    // al. 2016) that GPT-3 (Brown et al. 2020 §A) and DCLM (Li et
    // al. 2024) pipelines train to replace hand rules; here
    // distilling the q58/q138 heuristic teacher into a linear
    // student. Features per doc: the two engineered stats the
    // production filters use (mean word length, stopword fraction)
    // plus 8 feature-hashed word-fraction dims — all z-score
    // STANDARDIZED first (without it full-batch GD on these scales
    // stalls at the majority class: measured 70.0% stuck vs 94.2%
    // standardized at 5 epochs). Plan: ONE standardization pass
    // (20 integer moment sums, map-side combined) + one aggregation
    // per epoch (the gradient is an 11-number partial sum); weights
    // and moments are driver-held broadcast-sized state exactly like
    // q135's k-means centroids; 5 epochs = 5 corpus passes with
    // nothing shuffled but the partial cells. At 100 TB this is
    // textbook distributed full-batch GD (second-moment sums ARE in
    // decimal(38,0) — a LONG sum overflows ANSI near ~2e4 rows, the
    // 100× probe caught it; see featMoments). Exactness: raw
    // features quantize to integer
    // micro-units, so moment sums are order-free; mean/std/weight
    // updates are a fixed IEEE sequence on those exact integers
    // (sqrt is IEEE-correctly-rounded in both engines); per-doc
    // gradient terms quantize before summing (the q199/q204 device);
    // the dot product folds in fixed dim order. Both engines
    // therefore walk identical weight trajectories. Output: the
    // weight table after each epoch (dims 0–1 = engineered, 2–9 =
    // hashed, 10 = bias). -----
    q("q212_quality_logreg", duckLogregSql) { (s, dir) =>
      val feats = logregFeats(graft.Tables.spread(Tables.t(s, dir, "documents"), "doc_id")).localCheckpoint()
      val (m, sd) = featMoments(feats)
      val hist = trainLogreg(feats, m, sd, epochs)
      import s.implicits._
      hist.zipWithIndex.flatMap { case ((b, w), i) =>
        (0 until nF).map(d => (i + 1, d, w(d))) :+ ((i + 1, nF, b))
      }.toDF("iter", "dim", "w_raw")
        .select(col("iter"), col("dim"), round(col("w_raw"), 6).as("w"))
        .orderBy(col("iter"), col("dim"))
    },

    // ----- the trained classifier APPLIED as a corpus gate: score
    // every doc with the final-epoch weights, admit at p ≥ 0.5, and
    // report agreement with the heuristic teacher — the distillation
    // fidelity audit that decides whether the learned filter can
    // replace the rules (94.2% agreement here, with both admit and
    // reject verdicts populated). Training reruns the q212
    // trajectory (deterministic, so the composition is too);
    // scoring is a pure map over the feature frame. -----
    q("q213_classifier_gate", duckGateSql) { (s, dir) =>
      // gateModel at sampleFrac=1.0 — the dial's neutral setting is
      // on the oracle-checked path, so any drift in it fails the hash.
      // Train AND serve share ONE checkpointed feature frame: the r13
      // refactor briefly served off a fresh logregFeats scan and the
      // mechanized bench recheck caught the doubled featurization
      // (3.27 → 7.53 s isolated, same data)
      val feats = logregFeats(graft.Tables.spread(Tables.t(s, dir, "documents"), "doc_id"))
        .localCheckpoint()
      val (b, w, m, sd) = gateModelFromFeats(feats)
      feats.withColumn("p",
          lit(1.0) / (lit(1.0) + exp(-zCol(b, w, m, sd))))
        .select(col("doc_id"), col("y"), round(col("p"), 6).as("score"),
          (col("p") >= 0.5).cast("int").as("admitted"),
          ((col("p") >= 0.5) === (col("y") === 1)).cast("int").as("agree"))
        .orderBy(col("doc_id"))
    },

    // ----- the trained gate AT INGEST (the q171↔q172 pattern:
    // stream hash-equal to the batch relation): weights/moments are
    // trained ONCE on the frozen batch corpus (the offline half of
    // the offline-train / online-serve deployment every learned
    // filter runs), then arriving docs score through a pure
    // stateless map — feature projection + sigmoid are per-row
    // expressions, so ingest carries NO state at all (no watermark,
    // no window): the cheapest possible streaming operator shape,
    // admitting or rejecting each doc the moment it lands. -----
    q("q219_stream_classifier_gate",
      duckLogregCtes +
        s""",
           |pf AS (SELECT f.doc_id,
           |         1.0/(1.0 + exp(-(${(0 until nF).map(d => s"w.w$d*f.x$d")
                      .mkString("w.b + ", " + ", "")}))) AS p
           |       FROM fs f, wt$epochs w)
           |SELECT doc_id, round(p, 6) AS score,
           |  CAST(p >= 0.5 AS INTEGER) AS admitted
           |FROM pf ORDER BY doc_id""".stripMargin) { (s, dir) =>
      streamGate(s, dir)
    },

    // ----- the END-TO-END training-data build, composed from the
    // r12 operators (the RefinedWeb/DCLM recipe shape, the r12
    // sibling of q138's curation keep-list): Gopher rule gate (pure
    // per-doc map — the cheap first pass that shrinks everything
    // after it) → MinHash-LSH near-dup clusters over the SURVIVORS
    // ONLY (q52's bucketed pair join + Pregel CC on the pair graph)
    // → quality-argmax canonicalization per cluster (the q211
    // RefinedWeb policy, two cluster-keyed aggs, never a window) →
    // deterministic shard manifest of the final keep-set (the q209
    // write path: hash shards, stable intra-shard order, heads via
    // the bounded TopK aggregate). Every stage reuses the exact
    // operator the standalone query registered, so the composition's
    // oracle is their CTEs chained; the corpus is scanned once for
    // the gate+shingles and once for the quality join — no stage
    // introduces a shuffle beyond its standalone shape. -----
    q("q221_curation_build",
      Dedup.duckPairsCtes(recursive = true,
        leadingCtes = s"gated AS (SELECT * FROM documents WHERE $duckGopherPass),\n",
        source = "gated") +
        s""",
          |edges AS (SELECT doc_a AS a, doc_b AS b FROM good
          |          UNION SELECT doc_b, doc_a FROM good),
          |walk(a, b) AS (
          |  SELECT a, b FROM edges
          |  UNION SELECT a, a FROM edges
          |  UNION SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a),
          |cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM walk GROUP BY a),
          |m AS (SELECT d.doc_id,
          |        coalesce(cl.cluster_id, d.doc_id) AS cluster_id,
          |        ${TextAnalysis.duckQuality} AS q, d.n_chars
          |      FROM gated d LEFT JOIN cl ON d.doc_id = cl.doc_id),
          |bq AS (SELECT cluster_id, max(q) AS best_q FROM m GROUP BY cluster_id),
          |bd AS (SELECT m.cluster_id, max(m.doc_id) AS best_doc
          |       FROM m JOIN bq ON m.cluster_id = bq.cluster_id
          |                     AND m.q = bq.best_q
          |       GROUP BY m.cluster_id),
          |surv AS (SELECT m.doc_id, m.n_chars
          |         FROM m JOIN bd USING (cluster_id)
          |         WHERE m.doc_id = bd.best_doc),
          |dd AS (SELECT doc_id, n_chars,
          |    ${duckH32("'shard:' || doc_id")} % 8 AS shard,
          |    ${duckH52("'ord:' || doc_id")} AS u
          |  FROM surv),
          |ss AS (SELECT shard, count(*) AS n_docs, sum(n_chars) AS tot_chars
          |       FROM dd GROUP BY shard),
          |tt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nt FROM ss),
          |rr AS (SELECT shard, doc_id,
          |         row_number() OVER (PARTITION BY shard ORDER BY u, doc_id) AS rn
          |       FROM dd)
          |SELECT CAST(ss.shard AS INTEGER) AS shard,
          |  CAST(ss.n_docs AS BIGINT) AS n_docs,
          |  CAST(ss.tot_chars AS BIGINT) AS tot_chars,
          |  round(ss.n_docs::DOUBLE / tt.nt::DOUBLE, 6) AS frac,
          |  CAST(max(CASE WHEN rr.rn = 1 THEN rr.doc_id END) AS BIGINT) AS d1,
          |  CAST(max(CASE WHEN rr.rn = 2 THEN rr.doc_id END) AS BIGINT) AS d2,
          |  CAST(max(CASE WHEN rr.rn = 3 THEN rr.doc_id END) AS BIGINT) AS d3
          |FROM ss JOIN rr USING (shard), tt
          |GROUP BY ss.shard, ss.n_docs, ss.tot_chars, tt.nt
          |ORDER BY shard""".stripMargin) { (s, dir) =>
      import graft.functions.TopK
      val gated = graft.Tables.spread(Tables.t(s, dir, "documents"), "doc_id")
        .filter(gopherPass)
        .localCheckpoint() // feeds shingling, the quality join, survivors
      val pairs = Dedup.lshVerifiedPairs(gated)
        .select(col("doc_a"), col("doc_b")).localCheckpoint()
      val clusters = graft.graph.Graph.fromEdges(
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .connectedComponents()
      val m = gated
        .join(clusters.select(col("id").as("doc_id"), col("comp")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("cluster_id"),
          TextAnalysis.quality(col("text")).as("q"), col("n_chars"))
        .localCheckpoint() // feeds bq, bd, the survivor join (r5 lesson)
      val bq = m.groupBy(col("cluster_id")).agg(max(col("q")).as("best_q"))
      val bd = m.join(bq, "cluster_id")
        .filter(col("q") === col("best_q"))
        .groupBy(col("cluster_id")).agg(max(col("doc_id")).as("best_doc"))
      val surv = m.join(bd, "cluster_id")
        .filter(col("doc_id") === col("best_doc"))
        .select(col("doc_id"), col("n_chars"))
      val dd = surv.select(col("doc_id"), col("n_chars"),
        pmod(h32(concat(lit("shard:"), col("doc_id"))), lit(8)).as("shard"),
        h52(concat(lit("ord:"), col("doc_id"))).as("u"))
      val manifest = dd.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("tot_chars"),
          TopK.topK(3)(-col("u").cast("double"), col("doc_id")).as("head"))
      // total self-join branch dedupes via AQE exchange reuse (one
      // survivor-join chain in the final plan — r13 probe); m's own
      // localCheckpoint above already caps recompute of the gate
      manifest
        .crossJoin(broadcast(manifest.agg(sum(col("n_docs")).as("nt"))))
        .select(col("shard").cast("int").as("shard"),
          col("n_docs").cast("long").as("n_docs"),
          col("tot_chars").cast("long").as("tot_chars"),
          round(col("n_docs").cast("double") / col("nt").cast("double"), 6)
            .as("frac"),
          element_at(col("head"), 1).getField("id").as("d1"),
          element_at(col("head"), 2).getField("id").as("d2"),
          element_at(col("head"), 3).getField("id").as("d3"))
        .orderBy(col("shard"))
    }
  )

  /** q210's smoothed (bucket, n_ref, n_cur, p_ref, p_cur) frame —
    * factored out so the sweep-time quantization guard measures the
    * SAME pre-floor expression the query floors. */
  private def psiWithP(
      s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val d = Tables.t(s, dir, "documents")
      .select((col("doc_id") % 2).as("grp"),
        least(lit(9), floor(col("n_chars") / 64).cast("long")).as("bucket"))
    val counts = d.groupBy(col("grp"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val buckets = s.range(10).select(col("id").as("bucket"))
    val j = buckets
      .join(counts.filter(col("grp") === 0)
        .select(col("bucket"), col("n").as("n_ref")), Seq("bucket"), "left")
      .join(counts.filter(col("grp") === 1)
        .select(col("bucket"), col("n").as("n_cur")), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    // the totals branch rides AQE exchange reuse off the (grp,bucket)
    // count's own exchange — one corpus scan in the final plan
    j.crossJoin(broadcast(j.agg(sum(col("n_ref")).as("tr"),
        sum(col("n_cur")).as("tc"))))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        ((col("n_ref") + 1).cast("double")
          / (col("tr") + 10).cast("double")).as("p_ref"),
        ((col("n_cur") + 1).cast("double")
          / (col("tc") + 10).cast("double")).as("p_cur"))
  }

  /** q237's (p_ref, p_cur) frame: reference-fit k-means assignment
    * histograms with the q210 add-1 smoothing — same output columns
    * as [[psiWithP]] so [[psiPreQuant]] and the margin machinery
    * apply unchanged. */
  private def embedPsiWithP(
      s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    val ref = e.filter(col("vec_id") % 10 =!= 9)
    val cent = Similarity.kmeansCentroids(ref, 8, 2)
    val assigned = Similarity.assignWith(e, cent)
      .withColumn("grp", (col("vec_id") % 10 === 9).cast("int"))
    val counts = assigned.groupBy(col("grp"), col("cluster"))
      .agg(count(lit(1)).as("n"))
    val buckets = s.range(8).select(col("id").as("cluster"))
    val j = buckets
      .join(counts.filter(col("grp") === 0)
        .select(col("cluster"), col("n").as("n_ref")), Seq("cluster"), "left")
      .join(counts.filter(col("grp") === 1)
        .select(col("cluster"), col("n").as("n_cur")), Seq("cluster"), "left")
      .select(col("cluster"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    j.crossJoin(broadcast(j.agg(sum(col("n_ref")).as("tr"),
        sum(col("n_cur")).as("tc"))))
      .select(col("cluster"), col("n_ref"), col("n_cur"),
        ((col("n_ref") + 1).cast("double")
          / (col("tr") + 8).cast("double")).as("p_ref"),
        ((col("n_cur") + 1).cast("double")
          / (col("tc") + 8).cast("double")).as("p_cur"))
  }

  /** The pre-floor PSI term: 1e6·(p_cur − p_ref)·log2(p_cur/p_ref).
    * log2 is a transcendental (not IEEE-correctly-rounded), so a
    * 1-ulp JVM-vs-libm divergence flips floor() only when this value
    * is within ~1e-8 of an integer — quantMarginPsi flags that. */
  private def psiPreQuant: Column =
    lit(1000000.0) * ((col("p_cur") - col("p_ref"))
      * log2(col("p_cur") / col("p_ref")))

  /** Sweep-time transcendental-boundary margin for q210 (r12 ADVICE
    * medium): min distance of the pre-floor PSI term to the nearest
    * integer, over the 10 buckets. Buckets with p_cur == p_ref are
    * excluded: their term is 0 · log2(1) — an exact zero in ANY libm
    * (multiplication by +0.0 is IEEE-exact), so landing on the
    * integer carries no cross-engine risk. Returns +inf if every
    * bucket is exact-zero. */
  private[graft] def quantMarginPsi(s: SparkSession, dir: String): Double = {
    val r = psiWithP(s, dir)
      .filter(col("p_cur") =!= col("p_ref"))
      .select(psiPreQuant.as("x"))
      .agg(min(abs(col("x") - round(col("x"), 0))))
      .collect()(0)
    if (r.isNullAt(0)) Double.PositiveInfinity else r.getDouble(0)
  }

  /** Sweep-time float-surface margins for this module (r13 verdict
    * item 5 — q212/q213/q219's sigmoid sites were the unguarded gap):
    *  - q210_psi_int: the existing PSI floor margin;
    *  - q212_grad_floor_int: min distance of the pre-floor gradient
    *    terms to their nearest integer across epochs 2+ (epoch 1 is
    *    constructed-exact — see trainLogreg);
    *  - q212_w_round_half: min distance of 1e6·w to a half-integer
    *    over all 55 emitted weights (the round(w, 6) boundary; the
    *    weight VALUE is a correctly-rounded op chain on exact integer
    *    gradient sums, so the boundary is the only surface);
    *  - q213_q219_score_half: min distance of 1e6·p to a half-integer
    *    over final-epoch scores (the round(p, 6) boundary — q219
    *    streams the identical expression, one margin covers both);
    *  - q213_q219_gate_half: min of 1e6·|p − 0.5| (the admit
    *    threshold; a 1-ulp exp divergence flips the verdict only when
    *    p sits within ~ulp of 0.5). */
  private[graft] def quantMargins(
      s: SparkSession, dir: String): Seq[(String, Double)] = {
    val feats = logregFeats(graft.Tables.spread(Tables.t(s, dir, "documents"), "doc_id")).localCheckpoint()
    val (m, sd) = featMoments(feats)
    val sink = scala.collection.mutable.ArrayBuffer[Double]()
    val hist = trainLogreg(feats, m, sd, epochs, Some(sink))
    val (b, w) = hist.last
    val wHalf = hist.flatMap { case (bb, ww) => ww.toSeq :+ bb }
      .map { v =>
        val y = 1e6 * v; math.abs(math.abs(y - math.floor(y)) - 0.5)
      }.min
    val scored = feats.withColumn("p",
      lit(1.0) / (lit(1.0) + exp(-zCol(b, w, m, sd))))
    val r = scored
      .agg(min(abs(abs(lit(1000000.0) * col("p")
          - floor(lit(1000000.0) * col("p"))) - lit(0.5))).as("sh"),
        min(lit(1000000.0) * abs(col("p") - lit(0.5))).as("gh"))
      .collect()(0)
    val psi237 = {
      val r = embedPsiWithP(s, dir)
        .filter(col("p_cur") =!= col("p_ref"))
        .select(psiPreQuant.as("x"))
        .agg(min(abs(col("x") - round(col("x"), 0))))
        .collect()(0)
      if (r.isNullAt(0)) Double.PositiveInfinity else r.getDouble(0)
    }
    Seq(
      "q210_psi_int" -> quantMarginPsi(s, dir),
      "q237_psi_int" -> psi237,
      "q212_grad_floor_int" ->
        (if (sink.isEmpty) Double.PositiveInfinity else sink.min),
      "q212_w_round_half" -> wHalf,
      "q213_q219_score_half" -> r.getDouble(0),
      "q213_q219_gate_half" -> r.getDouble(1))
  }

  /** Quality-aware canonicalization (q211) with a production pre-gate
    * dial. preGate=false (the oracle path) canonicalizes the whole
    * corpus. preGate=true runs the Gopher gate FIRST and both pairs
    * and emits only gate-passing docs — exactly the q221 composition
    * order, exposed as a dial because the r13 1000× probe measured
    * the ungated whole-corpus LSH+Pregel pass at 472 s (16 cores,
    * disk-spill-bound) where the gated build runs the same corpus in
    * 12.9 s: at extreme scale the gate IS the canonicalization's
    * admission control. Semantics delta (documented, spec-pinned):
    * gated docs are absent from the output, and a cluster bridged
    * only through a gated doc splits — the production trade (garbage
    * can't be a canonical representative, and transitive identity
    * through garbage is noise, not signal). By construction
    * preGate=true ≡ canonicalize(docs.filter(gopherPass)). */
  private[graft] def canonicalize(
      docs: org.apache.spark.sql.DataFrame,
      preGate: Boolean = false): org.apache.spark.sql.DataFrame = {
    // The gated frame feeds five consumers (shingles, signatures, two
    // pair join-backs, quality scoring); without materialization each
    // re-runs the full-corpus scan WITH the word-splitting gate
    // predicate — measured 152.7 s vs 40.3 s materialized at the 100×
    // probe — so the gate output is materialized once, mirroring
    // q221's composition (which persists the gated shards as its
    // output contract).
    val in =
      if (preGate) docs.filter(gopherPass).localCheckpoint() else docs
    val pairs = Dedup.lshVerifiedPairs(in)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val clusters = graft.graph.Graph.fromEdges(
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .connectedComponents()
    // m feeds three consumers (bq, bd, the final join) — truncate
    // the CC lineage so the Pregel supersteps run once (r5 lesson)
    val m = in
      .join(clusters.select(col("id").as("doc_id"), col("comp")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("cluster_id"),
        TextAnalysis.quality(col("text")).as("q"))
      .localCheckpoint()
    val bq = m.groupBy(col("cluster_id")).agg(max(col("q")).as("best_q"))
    val bd = m.join(bq, "cluster_id")
      .filter(col("q") === col("best_q"))
      .groupBy(col("cluster_id")).agg(max(col("doc_id")).as("best_doc"))
    m.join(bd, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("q"),
        (col("doc_id") === col("best_doc")).cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  /** q219's engine: batch-train the q212 trajectory, then score a
    * document stream with the frozen weights through a stateless map
    * into an append-mode memory sink. */
  private def streamGate(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val (b, w, m, sd) = gateModel(s, dir)
    val stream = Tables.stream(s, dir, "documents")
    // r18 OPT (guide §2.5, the q243 stream device): the single-file
    // source gives each micro-batch a 1-2-split map side, serializing
    // the per-word-md5 featurization; one doc-sized exchange fans the
    // stateless scoring map across the cluster. Batch featurization
    // sites spread the same way via Tables.spread.
    val scored = logregFeats(stream.repartition(
        s.sessionState.conf.numShufflePartitions, col("doc_id")))
      .withColumn("p", lit(1.0) / (lit(1.0) + exp(-zCol(b, w, m, sd))))
      .select(col("doc_id"), round(col("p"), 6).as("score"),
        (col("p") >= 0.5).cast("int").as("admitted"))
    Drain.toMemory(scored, "graft_stream_gate", "append")._1.orderBy(col("doc_id"))
  }

  // ---- q212/q213 machinery ----------------------------------------

  private val nF = 10       // 2 engineered + 8 hashed feature dims
  private val epochs = 5
  private val lr = 4.0

  /** Per-doc training row: teacher label (the q58 heuristic at its
    * q138 threshold) + 10 raw features quantized to integer
    * micro-units (dims 0–1: mean word length, stopword fraction —
    * the teacher's own inputs; dims 2–9: hashed word fractions).
    * Quantizing HERE makes every downstream moment/gradient sum an
    * order-free integer sum. */
  private def logregFeats(docs: org.apache.spark.sql.DataFrame) = {
    val wRaw = split(col("text"), " ")
    val awl = length(regexp_replace(col("text"), " ", "")).cast("double") /
      size(wRaw)
    val stopFrac = size(filter(wRaw,
      x => x.isInCollection(Seq("the", "a", "of", "and", "to"))))
      .cast("double") / size(wRaw)
    val hashed = (0 until nF - 2).map(d =>
      expr(s"""size(filter(split(lower(text), ' '),
        w -> cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint) % 8 = $d))""")
        .cast("double") / size(wRaw))
    val raws = Seq(awl, stopFrac) ++ hashed
    docs.select(col("doc_id"),
      (TextAnalysis.quality(col("text")) >= 0.5).cast("int").as("y"),
      array(raws.map(r => floor(lit(1000000.0) * r).cast("long")): _*)
        .as("xq"))
  }

  /** Production training-sample dial (r12 verdict item 3): train the
    * gate on a deterministic content-hash sample and serve everywhere
    * — at 100 TB, six full corpus passes to fit 11 weights is
    * wasteful; production fits on ~1-10% and the serve side (a
    * stateless per-row map) is unchanged. Selection is the q165
    * device — u = h52("trn:" || doc_id) / 2^52 < frac — so the sample
    * is reproducible, partitioning-independent, and content-unbiased.
    * frac >= 1 returns the input UNTOUCHED (not even a trivially-true
    * filter), so the registered q212/q213/q219 trajectories are
    * bit-identical to pre-dial — QualitySpec pins both properties. */
  private[pipeline] def trainSample(
      feats: org.apache.spark.sql.DataFrame,
      frac: Double): org.apache.spark.sql.DataFrame =
    if (frac >= 1.0) feats
    else feats.filter(
      (conv(substring(md5(concat(lit("trn:"), col("doc_id"))), 1, 13), 16, 10)
        .cast("long") / lit(4503599627370496.0)) < frac)

  /** The trained gate model (bias, weights, moments): the one entry
    * point the batch gate (q213), the stream gate (q219), and the
    * sample-dial probes share. sampleFrac only thins the TRAINING
    * corpus; moments are computed on the same sample (the served
    * standardization must match what training saw). */
  private[graft] def gateModel(s: SparkSession, dir: String,
      sampleFrac: Double = 1.0)
      : (Double, Seq[Double], Array[Double], Array[Double]) =
    gateModelFromFeats(trainSample(
      logregFeats(graft.Tables.spread(Tables.t(s, dir, "documents"), "doc_id")), sampleFrac)
      .localCheckpoint())

  /** Train off an ALREADY-MATERIALIZED feature frame — q213 passes
    * its serve-side checkpoint so featurization happens exactly once
    * for train + serve (the r12 shape). */
  private[graft] def gateModelFromFeats(feats: org.apache.spark.sql.DataFrame)
      : (Double, Seq[Double], Array[Double], Array[Double]) = {
    val (m, sd) = featMoments(feats)
    val (b, w) = trainLogreg(feats, m, sd, epochs).last
    (b, w, m, sd)
  }

  /** Serve-side gate verdicts (doc_id, admitted) for a given model —
    * lets the spec/probes measure cross-model agreement without
    * duplicating the scoring expression. */
  private[graft] def gateVerdicts(s: SparkSession, dir: String,
      model: (Double, Seq[Double], Array[Double], Array[Double]))
      : org.apache.spark.sql.DataFrame = {
    val (b, w, m, sd) = model
    logregFeats(graft.Tables.spread(Tables.t(s, dir, "documents"), "doc_id"))
      .withColumn("p", lit(1.0) / (lit(1.0) + exp(-zCol(b, w, m, sd))))
      .select(col("doc_id"), (col("p") >= 0.5).cast("int").as("admitted"))
  }

  /** One moment pass → per-dim (mean, std) of the quantized
    * features, computed with the same IEEE sequence the oracle's
    * CTEs write out. std floors at 1e-12 (constant feature guard).
    * Second moments sum in decimal(38,0): per-row q² reaches ~4e14
    * (micro-unit features square), so a LONG sum overflows ANSI mode
    * near ~2e4 corpus rows × replicas — caught by the 100× decade
    * probe, not theory (the original "safe to ~1e9 docs" note was
    * wrong). The decimal sum is exact and order-free like the long
    * one; DuckDB's BIGINT sum is HUGEINT already, and both convert
    * to double once before the single division, so trajectories are
    * unchanged at every scale that didn't overflow. */
  private def featMoments(
      feats: org.apache.spark.sql.DataFrame): (Array[Double], Array[Double]) = {
    val exprs = (0 until nF).flatMap(d => Seq(
      sum(col("xq").getItem(d)).as(s"s1$d"),
      sum((col("xq").getItem(d) * col("xq").getItem(d))
        .cast("decimal(38,0)")).as(s"s2$d"))) :+
      count(lit(1)).as("n")
    val row = feats.agg(exprs.head, exprs.tail: _*).collect()(0)
    val n = row.getAs[Long]("n").toDouble
    val m = (0 until nF).map(d => row.getAs[Long](s"s1$d").toDouble / n).toArray
    val sd = (0 until nF).map { d =>
      val mm = m(d)
      math.max(math.sqrt(
        row.getAs[java.math.BigDecimal](s"s2$d").doubleValue() / n - mm * mm),
        1e-12)
    }.toArray
    (m, sd)
  }

  /** b + Σ_d w_d·(xq_d − m_d)/sd_d folded in dim order — the
    * identical IEEE sequence the oracle's generated SQL writes. */
  private def zCol(b: Double, w: Seq[Double],
      m: Array[Double], sd: Array[Double]): Column =
    (0 until nF).foldLeft(lit(b): Column)((acc, d) =>
      acc + lit(w(d)) * ((col("xq").getItem(d).cast("double") - lit(m(d)))
        / lit(sd(d))))

  /** T full-batch GD epochs (lr = 4, zero init) over standardized
    * features. One aggregation per epoch; gradient terms
    * floor-quantized to micro-units so the distributed sum is
    * order-free. Returns (bias, weights) after every epoch.
    *
    * `marginSink`, when set (the quant-guard run only — production
    * callers never pass it), collects per-epoch min distances of the
    * pre-floor gradient terms 1e6·(p−y)·x_d to their nearest integer
    * — the epoch-2+ sigmoid makes these exp-based float surfaces.
    * Epoch 1 is excluded as constructed-exact: zero-init weights make
    * z ≡ 0, exp(0) = 1 is exact in ANY libm, so p = 0.5 exactly and
    * the epoch-1 terms are correctly-rounded products of identical
    * doubles in both engines (the theta==thmax exclusion rationale). */
  private def trainLogreg(feats: org.apache.spark.sql.DataFrame,
      m: Array[Double], sd: Array[Double],
      iters: Int,
      marginSink: Option[scala.collection.mutable.ArrayBuffer[Double]] = None)
      : Seq[(Double, Array[Double])] = {
    var b = 0.0
    var w = Array.fill(nF)(0.0)
    val out = scala.collection.mutable.ArrayBuffer[(Double, Array[Double])]()
    def xs(d: Int): Column =
      (col("xq").getItem(d).cast("double") - lit(m(d))) / lit(sd(d))
    for (it <- 1 to iters) {
      val withP = feats.withColumn("p",
        lit(1.0) / (lit(1.0) + exp(-zCol(b, w, m, sd))))
      def gPre(d: Int): Column = lit(1000000.0) * (col("p") - col("y")) * xs(d)
      val gPreB: Column = lit(1000000.0) * (col("p") - col("y"))
      val marginExprs =
        if (marginSink.isDefined && it >= 2)
          (0 until nF).map(d =>
            min(abs(gPre(d) - round(gPre(d), 0))).as(s"mg$d")) :+
            min(abs(gPreB - round(gPreB, 0))).as("mgb")
        else Seq.empty
      val gExprs = (0 until nF).map(d =>
        sum(floor(gPre(d)).cast("long")).as(s"g$d")) ++ Seq(
        sum(floor(gPreB).cast("long")).as("gb"),
        count(lit(1)).as("cnt")) ++ marginExprs
      val row = withP.agg(gExprs.head, gExprs.tail: _*).collect()(0)
      if (marginSink.isDefined && it >= 2)
        marginSink.get ++= ((0 until nF).map(d =>
          row.getAs[Double](s"mg$d")) :+ row.getAs[Double]("mgb"))
      val cnt = row.getAs[Long]("cnt").toDouble
      w = (0 until nF).map(d =>
        w(d) - lr * ((row.getAs[Long](s"g$d").toDouble / 1000000.0) / cnt))
        .toArray
      b = b - lr * ((row.getAs[Long]("gb").toDouble / 1000000.0) / cnt)
      out += ((b, w))
    }
    out.toSeq
  }

  /** The identical trajectory unrolled as DuckDB CTEs — f quantizes
    * raw features, st/ms the moment pass, fs standardizes, wt0 the
    * zero init, p_i/g_i/wt_i one epoch each. */
  private def duckLogregCtes: String = {
    val rawDefs =
      Seq(
        "length(replace(text, ' ', ''))::DOUBLE / len(string_split(text, ' '))",
        "len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a', 'of', 'and', 'to')))::DOUBLE / len(string_split(text, ' '))") ++
      (0 until nF - 2).map(d =>
        s"len(list_filter(string_split(lower(text), ' '), w -> ${duckH32("w")} % 8 = $d))::DOUBLE / len(string_split(text, ' '))")
    val qs = rawDefs.zipWithIndex.map { case (r, d) =>
      s"CAST(floor(1000000.0 * ($r)) AS BIGINT) AS q$d" }.mkString(",\n    ")
    val sts = (0 until nF).map(d =>
      s"sum(q$d) AS s1$d, sum(q$d*q$d) AS s2$d").mkString(", ")
    val mexprs = (0 until nF).map(d =>
      s"st.s1$d::DOUBLE/st.n AS m$d").mkString(", ")
    val sdexprs = (0 until nF).map(d =>
      s"greatest(sqrt(st.s2$d::DOUBLE/st.n - m.m$d*m.m$d), 1e-12) AS sd$d")
      .mkString(", ")
    val fsCols = (0 until nF).map(d =>
      s"(f.q$d::DOUBLE - ms.m$d)/ms.sd$d AS x$d").mkString(",\n    ")
    val zExpr = "w.b" + (0 until nF).map(d => s" + w.w$d*f.x$d").mkString
    def iterCtes(i: Int): String = {
      val gs = (0 until nF).map(d =>
        s"sum(CAST(floor(1000000.0 * (p - y) * x$d) AS BIGINT)) AS g$d")
        .mkString(", ")
      val ws = (0 until nF).map(d =>
        s"w.w$d - 4.0*((g.g$d::DOUBLE/1000000.0)/g.cnt) AS w$d").mkString(", ")
      s"""p$i AS (SELECT f.*, 1.0/(1.0 + exp(-($zExpr))) AS p FROM fs f, wt${i - 1} w),
         |g$i AS (SELECT $gs, sum(CAST(floor(1000000.0 * (p - y)) AS BIGINT)) AS gb, count(*) AS cnt FROM p$i),
         |wt$i AS (SELECT w.b - 4.0*((g.gb::DOUBLE/1000000.0)/g.cnt) AS b, $ws FROM wt${i - 1} w, g$i g)""".stripMargin
    }
    s"""WITH f AS (SELECT doc_id,
       |    CAST(${TextAnalysis.duckQuality} >= 0.5 AS INTEGER) AS y,
       |    $qs
       |  FROM documents),
       |st AS (SELECT $sts, count(*) AS n FROM f),
       |m AS (SELECT $mexprs FROM st),
       |ms AS (SELECT m.*, $sdexprs FROM st, m),
       |fs AS (SELECT f.doc_id, f.y,
       |    $fsCols
       |  FROM f, ms),
       |wt0 AS (SELECT 0.0 AS b, ${(0 until nF).map(d => s"0.0 AS w$d").mkString(", ")}),
       |${(1 to epochs).map(iterCtes).mkString(",\n")}""".stripMargin
  }

  private def duckLogregSql: String = {
    val rows = (1 to epochs).flatMap(i =>
      (0 until nF).map(d =>
        s"SELECT $i AS iter, $d AS dim, round(w$d, 6) AS w FROM wt$i") :+
        s"SELECT $i AS iter, $nF AS dim, round(b, 6) AS w FROM wt$i")
      .mkString("\nUNION ALL ")
    duckLogregCtes + "\n" + rows + "\nORDER BY iter, dim"
  }

  private def duckGateSql: String = {
    val zExpr = "w.b" + (0 until nF).map(d => s" + w.w$d*f.x$d").mkString
    duckLogregCtes +
      s""",
         |pf AS (SELECT f.doc_id, f.y,
         |         1.0/(1.0 + exp(-($zExpr))) AS p FROM fs f, wt$epochs w)
         |SELECT doc_id, y, round(p, 6) AS score,
         |  CAST(p >= 0.5 AS INTEGER) AS admitted,
         |  CAST((p >= 0.5) = (y = 1) AS INTEGER) AS agree
         |FROM pf ORDER BY doc_id""".stripMargin
  }
}
