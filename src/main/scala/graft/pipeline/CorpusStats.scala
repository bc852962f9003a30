package graft.pipeline

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus composition analytics for a training-data pipeline —
  * stratified sampling, vocabulary statistics, frequency spectra,
  * hashed SIF document embeddings, and cross-source overlap (exact
  * and sketched). The reference (linweijiang/Flink-1.8-SourceCode)
  * carries the relational machinery these compose from
  * (flink-table aggregations/joins); the operators themselves are
  * the corpus-curation layer a 100 TB pipeline runs on top, same
  * family as TextAnalysis/Dedup.
  *
  * House determinism rules apply throughout: cross-engine content
  * hashes are md5 hex prefixes; every floating-point value emitted
  * is either a single IEEE op on exact integers (identical in any
  * engine) or an integer-micro-unit sum (order-free), rounded at the
  * output boundary.
  */
object CorpusStats extends QueryModule {

  import Dedup.{duckH52, h32, h52}

  def queries: Seq[QueryDef] = Seq(

    // ----- stratified sampling, equal allocation: admit ~T docs per
    // (source, lang) cell — the corpus-balancing primitive behind
    // eval-set construction and per-domain calibration samples.
    // Deterministic (q165/q199 contract): each doc's 52-bit salted
    // content hash is a uniform u; admit iff u < min(1, T/n_cell).
    // Plan: one map-side-combined cell count, the tiny cell-rate
    // table broadcasts back, admission is a pure map — zero
    // corpus-wide shuffle beyond the count. At 100 TB: cells are
    // source×lang (thousands), the rate table stays broadcast-sized
    // no matter the corpus. -----
    q("q201_stratified_sample",
      """WITH d AS (SELECT doc_id, source, lang,
        |    CAST(list_sum(list_transform(range(1,14),
        |      hx -> (strpos('0123456789abcdef', substr(md5('strat:' || text), hx, 1))-1)
        |            * (2**(4*(13-hx))))) AS BIGINT)
        |      / 4503599627370496.0 AS u
        |  FROM documents),
        |c AS (SELECT source, lang, count(*) AS n_cell
        |      FROM d GROUP BY source, lang),
        |r AS (SELECT source, lang, n_cell,
        |        least(1.0::DOUBLE, 20.0 / n_cell::DOUBLE) AS accept_p
        |      FROM c)
        |SELECT d.doc_id, d.source, d.lang, CAST(r.n_cell AS BIGINT) AS n_cell,
        |  r.accept_p, d.u, CAST(d.u < r.accept_p AS INTEGER) AS admitted
        |FROM d JOIN r USING (source, lang)
        |ORDER BY d.doc_id""") { (s, dir) =>
      val d = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"),
          (h52(concat(lit("strat:"), col("text")))
            / lit(4503599627370496.0)).as("u"))
      val rates = d.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_cell"))
        .withColumn("accept_p",
          least(lit(1.0), lit(20.0) / col("n_cell").cast("double")))
      d.join(broadcast(rates), Seq("source", "lang"))
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_cell").cast("long").as("n_cell"), col("accept_p"),
          col("u"), (col("u") < col("accept_p")).cast("int").as("admitted"))
        .orderBy(col("doc_id"))
    },

    // ----- per-source vocabulary statistics: token/type counts,
    // type-token ratio, hapax fraction, and the modal term — the
    // corpus-health dashboard row. Two aggregations, both map-side
    // combined (word counts shuffle on (source, word) hash; the
    // rollup on source); the modal term rides the bounded TopK
    // aggregate (k=1), NOT a vocab-wide window — one task never
    // holds a source's whole vocabulary (the q179/q193 lesson,
    // applied at design time). Emitted ratios are single IEEE
    // divisions of exact counts. -----
    q("q202_vocab_stats",
      """WITH w AS (SELECT source, unnest(string_split(lower(text), ' ')) AS word
        |           FROM documents),
        |c AS (SELECT source, word, count(*) AS c FROM w GROUP BY source, word),
        |s AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |        count(*) AS n_types,
        |        CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
        |      FROM c GROUP BY source),
        |t AS (SELECT source, word AS top_term, c AS top_freq,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY c DESC, word) AS rn FROM c)
        |SELECT s.source, s.n_tokens, CAST(s.n_types AS BIGINT) AS n_types,
        |  round(s.n_types::DOUBLE / s.n_tokens::DOUBLE, 6) AS ttr,
        |  round(s.hapax::DOUBLE / s.n_types::DOUBLE, 6) AS hapax_frac,
        |  t.top_term, CAST(t.top_freq AS BIGINT) AS top_freq
        |FROM s JOIN t USING (source) WHERE t.rn = 1
        |ORDER BY s.source""") { (s, dir) =>
      import graft.functions.TopK
      val counts = Tables.t(s, dir, "documents")
        .select(col("source"),
          explode(split(lower(col("text")), " ")).as("word"))
        .groupBy(col("source"), col("word"))
        .agg(count(lit(1)).as("c"))
      counts.groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
          TopK.topKStr(1)(col("c").cast("double"), col("word")).as("top"))
        .select(col("source"), col("n_tokens").cast("long").as("n_tokens"),
          col("n_types").cast("long").as("n_types"),
          round(col("n_types").cast("double")
            / col("n_tokens").cast("double"), 6).as("ttr"),
          round(col("hapax").cast("double")
            / col("n_types").cast("double"), 6).as("hapax_frac"),
          element_at(col("top"), 1).getField("id").as("top_term"),
          element_at(col("top"), 1).getField("score")
            .cast("long").as("top_freq"))
        .orderBy(col("source"))
    },

    // ----- corpus term-frequency spectrum (the Zipf diagnostic):
    // how many distinct terms occur exactly f times. Two cascaded
    // map-side-combined aggregations — vocab-sized shuffle on the
    // term, then the tiny spectrum on f — plus one broadcast of the
    // one-row type total. The spectrum's cardinality is ~log-scale
    // in the corpus (distinct frequency VALUES), so the output and
    // every post-vocab stage stay tiny at 100 TB. -----
    // ----- q236: vocabulary coverage curve — the tokenizer-sizing
    // diagnostic (how many types must a vocab keep to cover 50/90/95/
    // 99 % of corpus tokens): rank types by frequency (ties don't
    // matter — the crossing depends only on counts) and report the
    // smallest V whose top-V types reach each coverage target. The
    // whole curve derives from the FREQUENCY SPECTRUM (q203's
    // log-scale-sized frame), never from a global type ranking: one
    // running sum over the spectrum ordered by descending frequency
    // (a partition-less window on a ≤|distinct-freqs| frame — the
    // q203 "spectrum stays log-scale-sized" argument), then each
    // target's first crossing resolves the marginal frequency's
    // partial take with integer ceil division. ALL-INTEGER. -----
    q("q236_vocab_coverage",
      """WITH w AS (SELECT unnest(string_split(lower(text), ' ')) AS word
        |           FROM documents),
        |c AS (SELECT word, count(*) AS c FROM w GROUP BY word),
        |sp AS (SELECT c AS freq, count(*) AS n_terms FROM c GROUP BY c),
        |cum AS (SELECT freq, n_terms,
        |          sum(n_terms) OVER wf AS cum_words,
        |          sum(freq * n_terms) OVER wf AS cum_tokens
        |        FROM sp WINDOW wf AS (ORDER BY freq DESC
        |          ROWS UNBOUNDED PRECEDING)),
        |tot AS (SELECT CAST(sum(freq * n_terms) AS BIGINT) AS t FROM sp),
        |th AS (SELECT unnest([50, 90, 95, 99]) AS threshold),
        |need AS (SELECT threshold, (threshold * t + 99) // 100 AS need,
        |           t FROM th, tot),
        |cross1 AS (SELECT n.threshold, n.need, n.t, c.freq, c.n_terms,
        |             c.cum_words, c.cum_tokens
        |           FROM need n JOIN cum c ON c.cum_tokens >= n.need),
        |first1 AS (SELECT *, row_number() OVER (PARTITION BY threshold
        |             ORDER BY cum_tokens) AS rk FROM cross1)
        |SELECT CAST(threshold AS INTEGER) AS threshold,
        |  CAST(need AS BIGINT) AS tokens_needed,
        |  CAST((cum_words - n_terms)
        |    + (need - (cum_tokens - freq * n_terms) + freq - 1) // freq
        |    AS BIGINT) AS v_needed,
        |  CAST(t AS BIGINT) AS total_tokens
        |FROM first1 WHERE rk = 1
        |ORDER BY threshold""") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val sp = Tables.t(s, dir, "documents")
        .select(explode(split(lower(col("text")), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("c"))
        .groupBy(col("c").as("freq")).agg(count(lit(1)).as("n_terms"))
      // partition-less window is safe here and ONLY here: the frame
      // is the spectrum (distinct frequencies), log-scale-sized at
      // any corpus size (q203's argument)
      val wf = Window.orderBy(col("freq").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = sp
        .withColumn("cum_words", sum(col("n_terms")).over(wf))
        .withColumn("cum_tokens", sum(col("freq") * col("n_terms")).over(wf))
      val th = s.range(1)
        .select(explode(expr("array(50, 90, 95, 99)")).as("threshold"))
      val need = cum.crossJoin(broadcast(
          sp.agg(sum(col("freq") * col("n_terms")).as("t"))))
        .crossJoin(broadcast(th))
      need
        .withColumn("need", expr("(threshold * t + 99) div 100"))
        .filter(col("cum_tokens") >= col("need"))
        .groupBy(col("threshold"))
        .agg(min(struct(col("cum_tokens"), col("freq"), col("n_terms"),
          col("cum_words"), col("need"), col("t"))).as("m"))
        .select(col("threshold").cast("int").as("threshold"),
          col("m.need").cast("long").as("tokens_needed"),
          expr("""CAST((m.cum_words - m.n_terms)
            + (m.need - (m.cum_tokens - m.freq * m.n_terms) + m.freq - 1)
              div m.freq AS BIGINT)""").as("v_needed"),
          col("m.t").cast("long").as("total_tokens"))
        .orderBy(col("threshold"))
    },

    q("q203_freq_spectrum",
      """WITH w AS (SELECT unnest(string_split(lower(text), ' ')) AS word
        |           FROM documents),
        |c AS (SELECT word, count(*) AS c FROM w GROUP BY word),
        |sp AS (SELECT c AS freq, count(*) AS n_terms FROM c GROUP BY c),
        |tot AS (SELECT CAST(sum(n_terms) AS BIGINT) AS nt FROM sp)
        |SELECT CAST(freq AS BIGINT) AS freq, CAST(n_terms AS BIGINT) AS n_terms,
        |  round(n_terms::DOUBLE / nt::DOUBLE, 6) AS vocab_frac
        |FROM sp, tot ORDER BY freq""") { (s, dir) =>
      // The total self-join does NOT re-run the corpus pass: the
      // broadcast branch's plan is identical up to the spectrum
      // exchange, so AQE exchange reuse dedupes it (final plan shows
      // ONE parquet scan + a ReusedExchange — probed r13, and PlanSpec
      // pins it). A localCheckpoint here would truncate lineage and
      // hide the agg shape from the plan guards for no work saved.
      val sp = Tables.t(s, dir, "documents")
        .select(explode(split(lower(col("text")), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("c"))
        .groupBy(col("c").as("freq")).agg(count(lit(1)).as("n_terms"))
      sp.crossJoin(broadcast(sp.agg(sum(col("n_terms")).as("nt"))))
        .select(col("freq").cast("long").as("freq"),
          col("n_terms").cast("long").as("n_terms"),
          round(col("n_terms").cast("double")
            / col("nt").cast("double"), 6).as("vocab_frac"))
        .orderBy(col("freq"))
    },

    // ----- hashed SIF document embeddings (Arora et al. 2017 smooth
    // inverse frequency weighting, over a 16-dim feature-hashed word
    // space — no pretrained vectors needed): each token contributes
    // sign(word) · a/(a + p(word)) to dimension hash(word) mod 16,
    // normalized by doc length. The common-component removal of the
    // paper is orthogonal (a later PCA pass) and omitted. Exactness:
    // per-token weights quantize to integer micro-units BEFORE the
    // sum (fp addition is order-dependent; integer sums are not —
    // the q199 device), and the weight itself is a fixed IEEE op
    // sequence on exact counts, so both engines floor the same
    // double. Plan: vocab aggregation + an equi join of tokens to
    // word stats + one (doc, dim) map-side-combined agg; the doc
    // filter sits on the token side, BEFORE the join. -----
    q("q204_sif_embeddings",
      """WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        |           FROM documents),
        |n AS (SELECT doc_id, count(*) AS n_tok FROM w GROUP BY doc_id),
        |f AS (SELECT word, count(*) AS f FROM w GROUP BY word),
        |tt AS (SELECT CAST(sum(f) AS BIGINT) AS tt FROM f),
        |q AS (SELECT word,
        |    CAST(list_sum(list_transform(range(1,9),
        |      hx -> (strpos('0123456789abcdef', substr(md5(word), hx, 1))-1)
        |            * (2**(4*(8-hx))))) AS BIGINT) % 16 AS dim,
        |    CASE WHEN (strpos('0123456789abcdef', substr(md5(word), 9, 1))-1) % 2 = 0
        |      THEN 1 ELSE -1 END AS sgn,
        |    CAST(floor(1000000.0 * (0.001 / (0.001 + f::DOUBLE / tt::DOUBLE)))
        |      AS BIGINT) AS qw
        |  FROM f, tt),
        |s AS (SELECT w.doc_id, q.dim, CAST(sum(q.sgn * q.qw) AS BIGINT) AS sv
        |      FROM w JOIN q USING (word) WHERE w.doc_id < 50
        |      GROUP BY w.doc_id, q.dim)
        |SELECT s.doc_id, CAST(s.dim AS INTEGER) AS dim,
        |  round(sv::DOUBLE / (n.n_tok::DOUBLE * 1000000.0), 6) AS val
        |FROM s JOIN n USING (doc_id)
        |ORDER BY doc_id, dim""") { (s, dir) =>
      val w = Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("word"))
      val n = w.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
      // the total's branch rides AQE exchange reuse off f's own
      // exchange — one corpus scan in the final plan (r13 probe)
      val f = w.groupBy(col("word")).agg(count(lit(1)).as("f"))
      val qtab = f
        .crossJoin(broadcast(f.agg(sum(col("f")).as("tt"))))
        .select(col("word"),
          pmod(h32(col("word")), lit(16)).as("dim"),
          when((conv(substring(md5(col("word")), 9, 1), 16, 10)
            .cast("long") % 2) === 0, 1L).otherwise(-1L).as("sgn"),
          floor(lit(1000000.0) * (lit(0.001) / (lit(0.001)
            + col("f").cast("double") / col("tt").cast("double"))))
            .cast("long").as("qw"))
      w.filter(col("doc_id") < 50)
        .join(qtab, "word")
        .groupBy(col("doc_id"), col("dim"))
        .agg(sum(col("sgn") * col("qw")).as("sv"))
        .join(n, "doc_id")
        .select(col("doc_id"), col("dim").cast("int").as("dim"),
          round(col("sv").cast("double")
            / (col("n_tok").cast("double") * lit(1000000.0)), 6).as("val"))
        .orderBy(col("doc_id"), col("dim"))
    },

    // ----- exact cross-source overlap matrix: word-3-gram Jaccard
    // between every source pair — the contamination / provenance
    // diagnostic run before mixing corpora. Distinct (source, gram
    // hash) rows shuffle once; the pair space rides a gram-hash
    // equi self-join whose fan-out per gram is ≤ (#sources choose
    // 2) — bounded by the source count, NOT the corpus, so the join
    // is linear in gram volume at any scale. The full matrix frame
    // (sizes × sizes, tiny) broadcasts; pairs sharing nothing emit
    // inter = 0. Always exact: where the gram self-join is too large,
    // q206's MinHash sketch is the separate estimating query. -----
    q("q205_source_overlap",
      s"""WITH w AS (SELECT doc_id, source, string_split(lower(text), ' ') AS w
        |            FROM documents),
        |g0 AS (SELECT source,
        |         unnest(list_transform(range(1, len(w)-1),
        |           i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS gram
        |       FROM w WHERE len(w) >= 3),
        |g AS (SELECT DISTINCT source, ${duckH52("gram")} AS gh FROM g0),
        |sz AS (SELECT source, count(*) AS n FROM g GROUP BY source),
        |iv AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
        |       FROM g a JOIN g b ON a.gh = b.gh AND a.source < b.source
        |       GROUP BY a.source, b.source),
        |pr AS (SELECT a.source AS src_a, b.source AS src_b,
        |         a.n AS n_a, b.n AS n_b
        |       FROM sz a JOIN sz b ON a.source < b.source)
        |SELECT pr.src_a, pr.src_b, CAST(pr.n_a AS BIGINT) AS n_a,
        |  CAST(pr.n_b AS BIGINT) AS n_b,
        |  CAST(coalesce(iv.inter, 0) AS BIGINT) AS inter,
        |  round(coalesce(iv.inter, 0)::DOUBLE
        |    / (pr.n_a + pr.n_b - coalesce(iv.inter, 0))::DOUBLE, 6) AS jaccard
        |FROM pr LEFT JOIN iv USING (src_a, src_b)
        |ORDER BY src_a, src_b""") { (s, dir) =>
      sourceOverlap(Tables.t(s, dir, "documents"))
    },

    // ----- MinHash-sketched source similarity: q205's matrix from
    // 16-permutation per-source MinHash signatures instead of the
    // exact gram intersection — the sketch a 100 TB pipeline keeps
    // STANDING (signatures are sources × 16 rows; comparing a new
    // corpus against every existing source costs 16 mins over the
    // newcomer's grams, never a cross-corpus join). Each permutation
    // is a salted 52-bit gram hash; min is a map-side-combined
    // aggregate; the estimate is signature agreement / 16
    // (Broder 1997 — resemblance from min-wise samples). The exact
    // q205 matrix is the in-registry accuracy reference. -----
    q("q206_source_minhash_sim",
      s"""WITH w AS (SELECT doc_id, source, string_split(lower(text), ' ') AS w
        |            FROM documents),
        |g AS (SELECT DISTINCT source,
        |        unnest(list_transform(range(1, len(w)-1),
        |          i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS gram
        |      FROM w WHERE len(w) >= 3),
        |p AS (SELECT source, j,
        |        min(${duckH52("j || ':' || gram")}) AS mh
        |      FROM g, (SELECT unnest(range(16)) AS j)
        |      GROUP BY source, j),
        |ag AS (SELECT a.source AS src_a, b.source AS src_b,
        |         CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) AS agree
        |       FROM p a JOIN p b ON a.j = b.j AND a.source < b.source
        |       GROUP BY a.source, b.source)
        |SELECT src_a, src_b, agree,
        |  round(agree::DOUBLE / 16.0, 6) AS est_jaccard
        |FROM ag ORDER BY src_a, src_b""") { (s, dir) =>
      val g = Tables.t(s, dir, "documents")
        .withColumn("w", split(lower(col("text")), " "))
        .filter(size(col("w")) >= 3)
        .select(col("source"), explode(expr(
          """transform(sequence(0, size(w)-3),
            |  i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))""".stripMargin))
          .as("gram"))
        .distinct()
      val p = g
        .select(col("source"), posexplode(array((0 until 16).map(j =>
          h52(concat(lit(s"$j:"), col("gram")))): _*)).as(Seq("j", "hj")))
        .groupBy(col("source"), col("j"))
        .agg(min(col("hj")).as("mh"))
      p.select(col("source").as("src_a"), col("j"), col("mh").as("ma"))
        .join(p.select(col("source").as("src_b"), col("j"), col("mh").as("mb")),
          "j")
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(sum(when(col("ma") === col("mb"), 1L).otherwise(0L)).as("agree"))
        .select(col("src_a"), col("src_b"), col("agree").cast("long").as("agree"),
          round(col("agree").cast("double") / lit(16.0), 6).as("est_jaccard"))
        .orderBy(col("src_a"), col("src_b"))
    },

    // ----- UniMax language sampling (Chung et al. 2023, "UniMax:
    // Fairer and More Effective Language Sampling for Large-Scale
    // Multilingual Pretraining"): allocate a total token budget
    // across languages by WATER-FILLING under a per-language epoch
    // cap — every language gets an equal share of budget unless its
    // cap (epochs × available tokens) is smaller, in which case it
    // is fully allocated and the freed budget redistributes to the
    // rest. The fairer alternative to temperature sampling (q199):
    // head languages stop absorbing the tail's share. Budget here =
    // half the corpus tokens, cap = 2 epochs (query constants, the
    // bpeRounds pattern). Plan: ONE corpus pass (per-lang token
    // counts, map-side combined); everything after runs on the
    // language-count-sized table — the rank/prefix window is over
    // |langs| rows (the bounded-partition precedent of q181/q163).
    // The capped set is a PREFIX of the capacity-ascending order
    // (cap_{k+1} ≥ cap_k makes the water-filling test monotone), so
    // the split resolves with one windowed prefix sum, no recursion.
    // Determinism: ALL-INTEGER arithmetic — integer floor-division
    // for the fair share, remainder tokens to the smallest-capacity
    // uncapped languages in rank order, epochs emitted in exact
    // integer micro-units — the (alloc·1e6) product runs in
    // decimal(38,0) (Spark) / HUGEINT (DuckDB) so it cannot wrap at
    // ANY corpus size (a raw long product is exact only below ~9e12
    // tokens/language). Zero floats → zero cross-engine boundary
    // risk. -----
    q("q223_unimax_mix",
      """WITH tok AS (
        |  SELECT lang, count(*) AS avail
        |  FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS w
        |        FROM documents)
        |  WHERE w <> '' GROUP BY lang),
        |par AS (SELECT sum(avail) // 2 AS b, count(*) AS nl FROM tok),
        |rk AS (SELECT t.lang, t.avail, 2 * t.avail AS cap, p.b, p.nl,
        |         row_number() OVER (ORDER BY 2 * t.avail, t.lang) AS k,
        |         coalesce(sum(2 * t.avail) OVER (ORDER BY 2 * t.avail, t.lang
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS pre
        |       FROM tok t CROSS JOIN par p),
        |cp AS (SELECT *, CASE WHEN pre + cap * (nl - k + 1) <= b
        |                      THEN 1 ELSE 0 END AS capped FROM rk),
        |ag AS (SELECT coalesce(sum(CASE WHEN capped = 1 THEN 1 END), 0) AS kk,
        |              coalesce(sum(CASE WHEN capped = 1 THEN cap END), 0) AS pp
        |       FROM cp),
        |al AS (SELECT c.lang, c.avail, c.cap, c.capped,
        |         CASE WHEN c.capped = 1 THEN c.cap
        |              ELSE (c.b - a.pp) // (c.nl - a.kk)
        |                   + CASE WHEN c.k - a.kk <=
        |                            (c.b - a.pp) % (c.nl - a.kk)
        |                          THEN 1 ELSE 0 END END AS alloc
        |       FROM cp c CROSS JOIN ag a)
        |SELECT lang, CAST(avail AS BIGINT) AS avail_tokens,
        |  CAST(cap AS BIGINT) AS cap_tokens,
        |  CAST(alloc AS BIGINT) AS alloc_tokens,
        |  CAST((CAST(alloc AS HUGEINT) * 1000000) // avail AS BIGINT)
        |    AS epochs_micro,
        |  capped
        |FROM al ORDER BY lang""") { (s, dir) =>
      // |langs| rows, four consumers downstream (budget, rank frame,
      // capped aggregate, final select) — without the checkpoint each
      // re-runs the corpus explode (the bigramCounts rationale;
      // caught by the PlanSpec guard showing 4 scans)
      val tok = Tables.t(s, dir, "documents")
        .select(col("lang"), explode(split(lower(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("lang")).agg(count(lit(1)).as("avail"))
        .localCheckpoint()
      unimaxAlloc(tok, epochCap = 2, budgetDiv = 2)
    },

    // ----- tokenizer fertility per language (r14) — the companion
    // diagnostic every multilingual pretraining pipeline runs next to
    // the q223 allocator: how many SUBWORD tokens the tokenizer spends
    // per word and per character, by language. The reference tokenizer
    // is the deterministic fixed-stride proxy (a word of length L
    // costs ceil(L/4) subwords — the q59 decode-stub stance: the BPE
    // trainer q216/q217 exists separately; here the plumbing under
    // audit is the corpus-wide per-language cost accounting, so the
    // per-word cost function is the replayable fake). ALL-INTEGER end
    // to end (the q223 discipline): ceil via (L+3) div 4 on exact
    // longs, the two micro-ratios computed with decimal(38,0)/HUGEINT
    // widening so the 1e6 products cannot wrap at any corpus size.
    // Scale: ONE corpus pass, per-doc costs reduce inside the
    // documents scan (no explode survives the aggregate), |langs|-row
    // output — map-side combine collapses partials to |langs| cells
    // per task, the q223 shuffle shape. -----
    q("q227_tokenizer_fertility",
      """WITH d AS (
        |  SELECT lang,
        |    len(list_filter(string_split(lower(text), ' '),
        |        w -> w <> '')) AS words,
        |    list_sum(list_transform(
        |      list_filter(string_split(lower(text), ' '), w -> w <> ''),
        |      w -> (length(w) + 3) // 4)) AS subwords,
        |    length(replace(text, ' ', '')) AS chars
        |  FROM documents),
        |ag AS (SELECT lang, count(*) AS n_docs, sum(words) AS words,
        |         sum(subwords) AS subwords, sum(chars) AS chars
        |       FROM d GROUP BY lang)
        |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(words AS BIGINT) AS words,
        |  CAST(subwords AS BIGINT) AS subwords,
        |  CAST(chars AS BIGINT) AS chars,
        |  CAST((CAST(subwords AS HUGEINT) * 1000000) // words AS BIGINT)
        |    AS fertility_micro,
        |  CAST((CAST(chars AS HUGEINT) * 1000000) // subwords AS BIGINT)
        |    AS chars_per_subword_micro
        |FROM ag ORDER BY lang""") { (s, dir) =>
      Tables.t(s, dir, "documents")
        .select(col("lang"),
          expr("""aggregate(filter(split(lower(text), ' '), w -> w != ''),
                 |  0L, (a, w) -> a + 1L)""".stripMargin).as("words"),
          expr("""aggregate(filter(split(lower(text), ' '), w -> w != ''),
                 |  0L, (a, w) -> a + (length(w) + 3) div 4)""".stripMargin)
            .as("subwords"),
          length(regexp_replace(col("text"), " ", "")).cast("long")
            .as("chars"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("words")).as("words"),
          sum(col("subwords")).as("subwords"), sum(col("chars")).as("chars"))
        .select(col("lang"), col("n_docs"), col("words"), col("subwords"),
          col("chars"),
          expr("(cast(subwords as decimal(38,0)) * 1000000) div words")
            .cast("long").as("fertility_micro"),
          expr("(cast(chars as decimal(38,0)) * 1000000) div subwords")
            .cast("long").as("chars_per_subword_micro"))
        .orderBy(col("lang"))
    }
  )

  /** q205's engine: the distinct per-source 3-gram-hash table (ONE
    * corpus pass + one vocab-shuffle distinct), its gram-hash equi
    * self-join — fan-out per gram bounded by the source count — and
    * the broadcast (sizes × sizes) pair frame, so pairs sharing
    * nothing emit inter = 0. */
  private[pipeline] def sourceOverlap(docs: DataFrame): DataFrame = {
    val g = docs
      .withColumn("w", split(lower(col("text")), " "))
      .filter(size(col("w")) >= 3)
      .select(col("source"), explode(expr(
        """transform(sequence(0, size(w)-3),
          |  i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))""".stripMargin))
        .as("gram"))
      .select(col("source"), h52(col("gram")).as("gh"))
      .distinct()
    val sz = g.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pr = sz.select(col("source").as("src_a"), col("n").as("n_a"))
      .crossJoin(sz.select(col("source").as("src_b"), col("n").as("n_b")))
      .filter(col("src_a") < col("src_b"))
    val iv = g.select(col("source").as("src_a"), col("gh"))
      .join(g.select(col("source").as("src_b"), col("gh")), "gh")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("inter"))
    broadcast(pr).join(iv, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        coalesce(col("inter"), lit(0L)).cast("long").as("inter"),
        round(coalesce(col("inter"), lit(0L)).cast("double")
          / (col("n_a") + col("n_b")
            - coalesce(col("inter"), lit(0L))).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** The UniMax water-filling allocator over a (lang, avail) token
    * table: budget = Σavail div budgetDiv, per-language cap =
    * epochCap·avail. Factored so the spec can drive the capped
    * branch with a skewed synthetic table (the organic test corpus
    * never caps — no language's 2-epoch ceiling undercuts the
    * half-budget equal share). All-integer arithmetic; see q223. */
  private[pipeline] def unimaxAlloc(tok: DataFrame, epochCap: Long,
      budgetDiv: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val par = tok.agg(expr(s"sum(avail) div $budgetDiv").as("b"),
      count(lit(1)).as("nl"))
    val w = Window.orderBy(col("cap"), col("lang"))
    val rk = tok.withColumn("cap", lit(epochCap) * col("avail"))
      .crossJoin(broadcast(par))
      .withColumn("k", row_number().over(w))
      .withColumn("pre", coalesce(sum(col("cap")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val cp = rk.withColumn("capped",
      (col("pre") + col("cap") * (col("nl") - col("k") + 1) <= col("b"))
        .cast("int"))
    val ag = cp.agg(
      coalesce(sum(when(col("capped") === 1, 1L)), lit(0L)).as("kk"),
      coalesce(sum(when(col("capped") === 1, col("cap"))), lit(0L))
        .as("pp"))
    cp.crossJoin(broadcast(ag))
      .withColumn("alloc", when(col("capped") === 1, col("cap"))
        .otherwise(expr("(b - pp) div (nl - kk)") +
          when(col("k") - col("kk") <= expr("(b - pp) % (nl - kk)"),
            1L).otherwise(0L)))
      .select(col("lang"), col("avail").as("avail_tokens"),
        col("cap").cast("long").as("cap_tokens"),
        col("alloc").cast("long").as("alloc_tokens"),
        // the 1e6 multiply WIDENS first (r13 ADVICE low): a raw long
        // product wraps silently past ~9.2e12 tokens/language in
        // non-ANSI Spark — decimal(38,0) is exact to 1e31 and this is
        // a |langs|-row frame, so the cast is free; DuckDB mirrors
        // with HUGEINT. div (IntegralDivide) takes decimal directly.
        expr("(cast(alloc as decimal(38,0)) * 1000000) div avail")
          .cast("long").as("epochs_micro"),
        col("capped"))
      .orderBy(col("lang"))
  }
}
