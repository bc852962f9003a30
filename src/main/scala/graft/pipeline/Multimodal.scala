package graft.pipeline

import graft.{QueryDef, QueryModule, Tables}
import graft.streaming.Drain
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One row per document after binary featurization. */
final case class BinFeature(doc_id: Long, n_bytes: Int, hist: String)

/** One row per SAMPLED frame of a framed binary payload. */
final case class FrameFeature(doc_id: Long, frame_idx: Int, frame_len: Int,
    checksum: Int)

/** Multimodal-column plumbing: media payloads are opaque `binary`
  * columns with typed metadata; decode / feature-extract runs as a
  * partition-batched function over the binary bytes (the Scala analog
  * of a Pandas-UDF batch). The "decoder" here is a deterministic fake
  * (byte-bucket histogram — the real image/audio libs are not in this
  * container, SURVEY §7 stance); the Spark-side plumbing — binary
  * schema, partition batching, fixed-width feature output — is real
  * and oracle-checked.
  */
object Multimodal extends QueryModule {

  override def queries: Seq[QueryDef] = Seq(

    q("q59_multimodal_bytes",
      """WITH bytes AS (
        |  SELECT doc_id, ascii(substr(text, i.i, 1)) % 16 AS b
        |  FROM documents, unnest(range(1, length(text)+1)) AS i(i)),
        |counts AS (
        |  SELECT d.doc_id, r.b, count(bytes.b) AS c
        |  FROM (SELECT DISTINCT doc_id FROM documents) d
        |  CROSS JOIN (SELECT unnest(range(16)) AS b) r
        |  LEFT JOIN bytes ON bytes.doc_id = d.doc_id AND bytes.b = r.b
        |  GROUP BY d.doc_id, r.b)
        |SELECT doc_id,
        |  CAST((SELECT length(text) FROM documents x WHERE x.doc_id = counts.doc_id) AS INTEGER) AS n_bytes,
        |  string_agg(CAST(c AS VARCHAR), ',' ORDER BY b) AS hist
        |FROM counts GROUP BY doc_id
        |ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { rows =>
          // partition-batched "decode": one pass per partition, no
          // per-row task overhead — the shape a real media decoder
          // (or mapInPandas batch) would use
          rows.map { case (id, payload) =>
            val hist = new Array[Long](16)
            var k = 0
            while (k < payload.length) {
              hist((payload(k) & 0xff) % 16) += 1
              k += 1
            }
            BinFeature(id, payload.length, hist.mkString(","))
          }
        }
        .toDF()
        .orderBy(col("doc_id"))
    },

    // ----- frame sampling: the video/audio shape — a framed binary
    // payload expands 1→N typed frame rows, sampling every 4th frame;
    // per-frame feature is a deterministic fake checksum (the decode
    // stub), the partition-batched expansion and typed output schema
    // are the real pipeline plumbing -----
    q("q124_frame_sample",
      """WITH f AS (
        |  SELECT doc_id, (i.i - 1) // 64 AS frame_idx,
        |    ascii(substr(text, i.i, 1)) AS b
        |  FROM documents, unnest(range(1, length(text)+1)) AS i(i))
        |SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(count(*) AS INTEGER) AS frame_len,
        |  CAST(sum(b) % 997 AS INTEGER) AS checksum
        |FROM f WHERE frame_idx % 4 = 0
        |GROUP BY doc_id, frame_idx
        |ORDER BY doc_id, frame_idx""") { (s, dir) =>
      import s.implicits._
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { rows =>
          rows.flatMap { case (id, payload) =>
            val nFrames = (payload.length + 63) / 64
            Iterator.range(0, nFrames, step = 4).map { fi =>
              val from = fi * 64
              val until = math.min(from + 64, payload.length)
              var sum = 0L
              var k = from
              while (k < until) { sum += (payload(k) & 0xff); k += 1 }
              FrameFeature(id, fi, until - from, (sum % 997).toInt)
            }
          }
        }
        .toDF()
        .orderBy(col("doc_id"), col("frame_idx"))
    },

    // ----- perceptual-hash near-duplicate pairs over the binary
    // payloads (r13 verdict item 4 — the multimodal pillar's dedup
    // operator): a dHash (difference hash — the gradient variant of
    // pHash; Krawetz 2013) computed ALL-INTEGER so it is
    // oracle-replayable like q223, then Hamming-candidate pairs via
    // the q53-family block pigeonhole.
    //   1. "resize": average-pool the payload bytes onto a 4×8 pixel
    //      grid — cell = (pos·32) div len (nearest-rank binning),
    //      pixel = sum(bytes) div count (integer mean). Payloads
    //      shorter than the grid leave empty cells, densified to 0
    //      via a 32-row-per-doc grid (a real resize would upsample;
    //      the decode stub keeps the q59 stance — the plumbing is
    //      real, the pixel source is the deterministic fake). Grid
    //      choice is payload-matched, not canonical-dHash-64: at
    //      ~300-byte payloads a 72-cell raster puts ~5 bytes in a
    //      cell and every word edit flips pixels (measured min
    //      hamming 9 across sf0.001 — no near-dup structure
    //      survives); 32 cells ≈ 10 bytes/cell absorb single edits.
    //      At real image sizes scale the same plan to 8×9/64-bit.
    //   2. gradient bits: bit(r,c) = px(r,c) < px(r,c+1) for the 7
    //      adjacent-column pairs of each of the 4 rows → a 28-bit
    //      signature (all 32 cell means pivot inside ONE conditional
    //      aggregate — r14 fusion: no densify join, no window, never
    //      a self-join).
    //   3. pairs: each signature fans out to 4 7-bit blocks; by
    //      pigeonhole ANY pair with hamming ≤ 3 shares at least one
    //      block, so the ≤ 3 output is EXACT (3 differing bits
    //      cannot cover 4 blocks), while the candidate space stays
    //      linear in the corpus instead of quadratic.
    // Scale (r15): the signature is ONE codegen'd expression over
    // the payload bytes (scan → project, nothing exploded, nothing
    // aggregated — MediaSig.DHashSig); everything downstream is
    // signature-sized. Per-block bucket skew is the q56c trade
    // (gradient bits are not uniform). -----
    q("q224_phash_near_dup",
      """WITH bytes AS (
        |  SELECT doc_id, length(text) AS L, i.i AS i,
        |    ascii(substr(text, i.i, 1)) AS b
        |  FROM documents, unnest(range(1, length(text)+1)) AS i(i)),
        |px0 AS (SELECT doc_id, ((i-1)*32) // L AS cell,
        |          sum(b) // count(*) AS px
        |        FROM bytes GROUP BY doc_id, ((i-1)*32) // L),
        |grid AS (SELECT d.doc_id, g.cell, coalesce(px0.px, 0) AS px
        |         FROM (SELECT doc_id FROM documents) d
        |         CROSS JOIN (SELECT unnest(range(32)) AS cell) g
        |         LEFT JOIN px0 ON px0.doc_id = d.doc_id
        |                      AND px0.cell = g.cell),
        |b0 AS (SELECT doc_id, cell, px,
        |         lead(px) OVER (PARTITION BY doc_id ORDER BY cell) AS pxr
        |       FROM grid),
        |bits AS (SELECT doc_id, (cell // 8) * 7 + (cell % 8) AS j,
        |           CASE WHEN px < pxr THEN 1 ELSE 0 END AS bit
        |         FROM b0 WHERE cell % 8 < 7),
        |ph AS (SELECT doc_id,
        |         CAST(sum(bit * (1::BIGINT << j)) AS BIGINT) AS phash
        |       FROM bits GROUP BY doc_id),
        |bl AS (SELECT doc_id, phash, j, (phash >> (7*j)) & 127 AS bkt
        |       FROM ph CROSS JOIN (SELECT unnest(range(4)) AS j)),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |           a.phash AS ha, b.phash AS hb
        |         FROM bl a JOIN bl b ON a.j = b.j AND a.bkt = b.bkt
        |           AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
        |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
        |ORDER BY doc_a, doc_b""") { (s, dir) =>
      phashNearDup(Tables.t(s, dir, "documents"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ----- exact-signature cluster reduction — q224's scale path for
    // DUP-HEAVY corpora: when a corpus is mostly duplicates (the
    // replica-1000x adversarial regime: 1000-copy families), the
    // materialized pair list is Θ(dups²) BY DEFINITION (2.5e9 rows at
    // 5M docs — the probe row q224 deliberately does not have), but
    // the operator a pipeline actually runs there is per-doc cluster
    // assignment: group by the 28-bit signature, representative =
    // min doc_id — ONE map-side-combined agg + one hash join back,
    // linear at ANY duplicate density (the q136 dup_of shape). -----
    // ----- temporal scene segmentation — the VIDEO shape of the
    // q224 device (r14): per-frame integer signatures over the q124
    // framing (64-byte frames), consecutive frames whose signatures
    // differ by hamming ≤ 1 collapse into one scene, a larger jump is
    // a CUT. This is the frame-dedup / scene-boundary pass a video
    // pipeline runs before sampling one representative frame per
    // scene (shot-boundary detection by frame-signature distance;
    // the decode stub stance of q59/q124 — bytes stand in for pixels,
    // the framing/windowing/segmentation plumbing is the real thing).
    //   1. frame signature: each 64-byte frame average-pools onto 8
    //      cells (cell = offset div 8, integer mean), 7 adjacent-cell
    //      gradient bits pack to a 7-bit signature — one dHash ROW at
    //      frame granularity, all-integer (the q223/q224 discipline).
    //      Partial tail frames densify their missing cells to 0 (the
    //      oracle spells this as the q224 grid CTE; the Spark plan
    //      pivots all 8 cell means inside ONE conditional aggregate,
    //      so no densify join exists).
    //   2. cuts: lag(sig) over (doc ORDER BY frame), cut when
    //      bit_count(xor) > 1 or first frame; scene_id = running sum
    //      of cuts (frames-between-cuts share a scene).
    //   3. scenes: group (doc, scene): start/end frame, n_frames,
    //      rep_sig = min(sig) (deterministic representative).
    // Scale (r15): per-frame signatures come out of ONE codegen'd
    // pass over the payload (MediaSig.FrameSigs) — the only Generate
    // is one LONG per 64-byte frame (len/64 rows, not len); the only
    // window is per-doc with frames-per-payload-bounded partitions —
    // no global window, no join at all, linear in corpus bytes
    // (PlanSpec-pinned). -----
    q("q226_scene_segments",
      """WITH bytes AS (
        |  SELECT doc_id, i.i AS i, ascii(substr(text, i.i, 1)) AS b
        |  FROM documents, unnest(range(1, length(text)+1)) AS i(i)),
        |px0 AS (SELECT doc_id, (i-1) // 64 AS frame_idx,
        |          ((i-1) % 64) // 8 AS cell, sum(b) // count(*) AS px
        |        FROM bytes GROUP BY 1, 2, 3),
        |frames AS (SELECT DISTINCT doc_id, frame_idx FROM px0),
        |grid AS (SELECT f.doc_id, f.frame_idx, g.cell,
        |           coalesce(px0.px, 0) AS px
        |         FROM frames f
        |         CROSS JOIN (SELECT unnest(range(8)) AS cell) g
        |         LEFT JOIN px0 ON px0.doc_id = f.doc_id
        |           AND px0.frame_idx = f.frame_idx AND px0.cell = g.cell),
        |b0 AS (SELECT doc_id, frame_idx, cell, px,
        |         lead(px) OVER (PARTITION BY doc_id, frame_idx
        |                        ORDER BY cell) AS pxr
        |       FROM grid),
        |sig AS (SELECT doc_id, frame_idx,
        |          CAST(sum(CASE WHEN px < pxr THEN 1::BIGINT << cell
        |                        ELSE 0 END) AS BIGINT) AS sig
        |        FROM b0 WHERE cell < 7 GROUP BY doc_id, frame_idx),
        |cuts AS (SELECT doc_id, frame_idx, sig,
        |           CASE WHEN lag(sig) OVER w IS NULL THEN 1
        |                WHEN bit_count(xor(sig, lag(sig) OVER w)) > 1
        |                THEN 1 ELSE 0 END AS cut
        |         FROM sig WINDOW w AS (PARTITION BY doc_id
        |                               ORDER BY frame_idx)),
        |sc AS (SELECT doc_id, frame_idx, sig,
        |         sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
        |           ROWS UNBOUNDED PRECEDING) AS scene_id
        |       FROM cuts)
        |SELECT doc_id, CAST(scene_id AS BIGINT) AS scene_id,
        |  CAST(min(frame_idx) AS BIGINT) AS start_frame,
        |  CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(min(sig) AS BIGINT) AS rep_sig
        |FROM sc GROUP BY doc_id, scene_id
        |ORDER BY doc_id, scene_id""") { (s, dir) =>
      sceneSegments(Tables.t(s, dir, "documents"))
        .orderBy(col("doc_id"), col("scene_id"))
    },

    q("q225_phash_dedup",
      """WITH bytes AS (
        |  SELECT doc_id, length(text) AS L, i.i AS i,
        |    ascii(substr(text, i.i, 1)) AS b
        |  FROM documents, unnest(range(1, length(text)+1)) AS i(i)),
        |px0 AS (SELECT doc_id, ((i-1)*32) // L AS cell,
        |          sum(b) // count(*) AS px
        |        FROM bytes GROUP BY doc_id, ((i-1)*32) // L),
        |grid AS (SELECT d.doc_id, g.cell, coalesce(px0.px, 0) AS px
        |         FROM (SELECT doc_id FROM documents) d
        |         CROSS JOIN (SELECT unnest(range(32)) AS cell) g
        |         LEFT JOIN px0 ON px0.doc_id = d.doc_id
        |                      AND px0.cell = g.cell),
        |b0 AS (SELECT doc_id, cell, px,
        |         lead(px) OVER (PARTITION BY doc_id ORDER BY cell) AS pxr
        |       FROM grid),
        |bits AS (SELECT doc_id, (cell // 8) * 7 + (cell % 8) AS j,
        |           CASE WHEN px < pxr THEN 1 ELSE 0 END AS bit
        |         FROM b0 WHERE cell % 8 < 7),
        |ph AS (SELECT doc_id,
        |         CAST(sum(bit * (1::BIGINT << j)) AS BIGINT) AS phash
        |       FROM bits GROUP BY doc_id),
        |reps AS (SELECT phash, min(doc_id) AS dup_of FROM ph
        |         GROUP BY phash)
        |SELECT ph.doc_id, ph.phash, reps.dup_of,
        |  CAST(ph.doc_id <> reps.dup_of AS INTEGER) AS is_dup
        |FROM ph JOIN reps USING (phash)
        |ORDER BY ph.doc_id""") { (s, dir) =>
      // r15: with the signature now a pure scan→project (codegen'd
      // DHashSig), the representative is a frame-less MIN over a
      // phash-partitioned window — ONE corpus pass, ONE exchange
      // keyed on the 8-byte hash, no join (the r14 agg+join-back
      // form cost a second corpus-sized exchange). Signature classes
      // are duplicate families (≤ replica count), so no partition
      // outgrows a task at any corpus size.
      import org.apache.spark.sql.expressions.Window
      val ph = phash(Tables.t(s, dir, "documents"))
      ph.withColumn("dup_of", min(col("doc_id")).over(
          Window.partitionBy(col("phash"))))
        .select(col("doc_id"), col("phash"), col("dup_of"),
          (col("doc_id") =!= col("dup_of")).cast("int").as("is_dup"))
        .orderBy(col("doc_id"))
    },

    // ----- q229: perceptual-hash dedup AT INGEST — the streaming
    // twin of q224/q225, completing the multimodal pillar's ingest
    // story the way q136/q137/q139 did for text and embeddings. Each
    // arriving payload hashes inside the codegen'd DHashSig (per-row,
    // streaming-safe), blocks into the q224 pigeonhole buckets in
    // keyed state, and on watermark-seal flags the smallest EARLIER
    // doc within hamming ≤ 3 — exact vs the all-pairs truth by the
    // 4-block pigeonhole, batching-independent by watermark sealing.
    // The oracle replays the batch truth: the q224 signature CTE plus
    // a min-earlier-neighbor join. Engine: StreamingDedup.phashDedup
    // (state per (block, bucket) = 16-byte member signatures,
    // horizon-boundable for unbounded streams). -----
    q("q229_stream_phash_dedup",
      """WITH bytes AS (
        |  SELECT doc_id, length(text) AS L, i.i AS i,
        |    ascii(substr(text, i.i, 1)) AS b
        |  FROM documents, unnest(range(1, length(text)+1)) AS i(i)),
        |px0 AS (SELECT doc_id, ((i-1)*32) // L AS cell,
        |          sum(b) // count(*) AS px
        |        FROM bytes GROUP BY doc_id, ((i-1)*32) // L),
        |grid AS (SELECT d.doc_id, g.cell, coalesce(px0.px, 0) AS px
        |         FROM (SELECT doc_id FROM documents) d
        |         CROSS JOIN (SELECT unnest(range(32)) AS cell) g
        |         LEFT JOIN px0 ON px0.doc_id = d.doc_id
        |                      AND px0.cell = g.cell),
        |b0 AS (SELECT doc_id, cell, px,
        |         lead(px) OVER (PARTITION BY doc_id ORDER BY cell) AS pxr
        |       FROM grid),
        |bits AS (SELECT doc_id, (cell // 8) * 7 + (cell % 8) AS j,
        |           CASE WHEN px < pxr THEN 1 ELSE 0 END AS bit
        |         FROM b0 WHERE cell % 8 < 7),
        |ph AS (SELECT doc_id,
        |         CAST(sum(bit * (1::BIGINT << j)) AS BIGINT) AS phash
        |       FROM bits GROUP BY doc_id)
        |SELECT a.doc_id, min(b.doc_id) AS dup_of
        |FROM ph a JOIN ph b ON b.doc_id < a.doc_id
        |  AND bit_count(xor(a.phash, b.phash)) <= 3
        |GROUP BY a.doc_id
        |ORDER BY a.doc_id""") { (s, dir) =>
      StreamingDedup.phashDedup(s, dir)._1
    },

    // ----- q230: energy/silence segmentation — the AUDIO shape of
    // the q226 device (r14 verdict Next-round #6), completing the
    // pillar's image (q224/q225) / video (q226) / audio triad. The
    // framed payload's per-frame integer energy (mean square byte —
    // the decode-stub stance: bytes stand in for PCM samples, the
    // framing/threshold/segmentation plumbing is the real thing)
    // classifies frames silent/active against a PER-DOC adaptive
    // threshold (the doc's own mean frame energy — the classic
    // adaptive silence-detection posture, and deliberately NOT a
    // global corpus scalar: no second corpus pass, no broadcast, the
    // whole operator stays one scan), then gaps-and-islands collapses
    // threshold runs into segments: cut where the silent flag flips,
    // seg_id = running cut count, one row per (doc, run) with frame
    // extent and total energy. All-integer (sum/div/compare on
    // longs), so DuckDB replays it exactly.
    // Scale: per-frame energies come out of ONE codegen'd pass
    // (MediaSig.FrameEnergies); the threshold is an array-local
    // aggregate (no shuffle); the only Generate is one long per
    // frame; the only window is per-doc. Linear in corpus bytes,
    // join-free (PlanSpec-pinned). -----
    q("q230_audio_segments",
      """WITH bytes AS (
        |  SELECT doc_id, i.i AS i, ascii(substr(text, i.i, 1)) AS b
        |  FROM documents, unnest(range(1, length(text)+1)) AS i(i)),
        |fr AS (SELECT doc_id, (i-1) // 64 AS frame_idx,
        |         sum(b*b) // count(*) AS energy
        |       FROM bytes GROUP BY 1, 2),
        |fl AS (SELECT doc_id, frame_idx, energy,
        |         CASE WHEN energy <
        |           sum(energy) OVER (PARTITION BY doc_id) //
        |           count(*) OVER (PARTITION BY doc_id)
        |         THEN 1 ELSE 0 END AS silent
        |       FROM fr),
        |cuts AS (SELECT doc_id, frame_idx, energy, silent,
        |           CASE WHEN lag(silent) OVER w IS NULL
        |                  OR lag(silent) OVER w <> silent
        |           THEN 1 ELSE 0 END AS cut
        |         FROM fl WINDOW w AS (PARTITION BY doc_id
        |                              ORDER BY frame_idx)),
        |sg AS (SELECT doc_id, frame_idx, energy, silent,
        |         sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
        |           ROWS UNBOUNDED PRECEDING) AS seg_id
        |       FROM cuts)
        |SELECT doc_id, CAST(seg_id AS BIGINT) AS seg_id,
        |  CAST(min(silent) AS INTEGER) AS is_silence,
        |  CAST(min(frame_idx) AS BIGINT) AS start_frame,
        |  CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(sum(energy) AS BIGINT) AS tot_energy
        |FROM sg GROUP BY doc_id, seg_id
        |ORDER BY doc_id, seg_id""") { (s, dir) =>
      audioSegments(Tables.t(s, dir, "documents"))
        .orderBy(col("doc_id"), col("seg_id"))
    },

    // ----- q231: video near-duplicate pairs via SCENE-SIGNATURE
    // shingles — the video-level composition of the q226 scene
    // machinery with the q54 n-gram Jaccard device. Two videos are
    // near-dups when their ordered scene signatures share most of
    // their local structure, robust to re-encoding noise that flips
    // individual frames (frame-level hashes would miss it) and to
    // temporal shifts (shingles are position-free):
    //   1. scenes (q226) → per doc the ORDERED rep_sig sequence;
    //   2. shingle: consecutive scene trigrams packed into one
    //      integer (sig1·128² + sig2·128 + sig3 — rep_sigs are
    //      7-bit, so the shingle is exact arithmetic < 2²¹, no hash
    //      needed: the oracle replays it verbatim), distinct per doc;
    //   3. pairs: inverted-index equi-join on the shingle value,
    //      intersection counts per pair, Jaccard as an ALL-INTEGER
    //      inequality (100·∩ ≥ 50·∪ — no float ratio anywhere).
    // Scale: the pair space is shared-shingle only (never all-pairs);
    // hot boilerplate shingles would widen it the way hot grams widen
    // q54's. Sizes join is doc-count-sized. -----
    q("q231_video_near_dup",
      """WITH bytes AS (
        |  SELECT doc_id, i.i AS i, ascii(substr(text, i.i, 1)) AS b
        |  FROM documents, unnest(range(1, length(text)+1)) AS i(i)),
        |px0 AS (SELECT doc_id, (i-1) // 64 AS frame_idx,
        |          ((i-1) % 64) // 8 AS cell, sum(b) // count(*) AS px
        |        FROM bytes GROUP BY 1, 2, 3),
        |frames AS (SELECT DISTINCT doc_id, frame_idx FROM px0),
        |grid AS (SELECT f.doc_id, f.frame_idx, g.cell,
        |           coalesce(px0.px, 0) AS px
        |         FROM frames f
        |         CROSS JOIN (SELECT unnest(range(8)) AS cell) g
        |         LEFT JOIN px0 ON px0.doc_id = f.doc_id
        |           AND px0.frame_idx = f.frame_idx AND px0.cell = g.cell),
        |b0 AS (SELECT doc_id, frame_idx, cell, px,
        |         lead(px) OVER (PARTITION BY doc_id, frame_idx
        |                        ORDER BY cell) AS pxr
        |       FROM grid),
        |sig AS (SELECT doc_id, frame_idx,
        |          CAST(sum(CASE WHEN px < pxr THEN 1::BIGINT << cell
        |                        ELSE 0 END) AS BIGINT) AS sig
        |        FROM b0 WHERE cell < 7 GROUP BY doc_id, frame_idx),
        |cuts AS (SELECT doc_id, frame_idx, sig,
        |           CASE WHEN lag(sig) OVER w IS NULL THEN 1
        |                WHEN bit_count(xor(sig, lag(sig) OVER w)) > 1
        |                THEN 1 ELSE 0 END AS cut
        |         FROM sig WINDOW w AS (PARTITION BY doc_id
        |                               ORDER BY frame_idx)),
        |sc AS (SELECT doc_id, frame_idx, sig,
        |         sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
        |           ROWS UNBOUNDED PRECEDING) AS scene_id
        |       FROM cuts),
        |scenes AS (SELECT doc_id, scene_id, min(sig) AS rep_sig
        |           FROM sc GROUP BY doc_id, scene_id),
        |tri AS (SELECT doc_id,
        |          rep_sig * 16384
        |            + lead(rep_sig, 1) OVER w * 128
        |            + lead(rep_sig, 2) OVER w AS sh
        |        FROM scenes WINDOW w AS (PARTITION BY doc_id
        |                                 ORDER BY scene_id)),
        |sh AS (SELECT DISTINCT doc_id, sh FROM tri WHERE sh IS NOT NULL),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |            count(*) AS n_shared
        |          FROM sh a JOIN sh b ON a.sh = b.sh
        |            AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
        |  CAST(100 * n_shared // (sa.n + sb.n - n_shared) AS BIGINT)
        |    AS jac_pct
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE 100 * n_shared >= 50 * (sa.n + sb.n - n_shared)
        |ORDER BY doc_a, doc_b""") { (s, dir) =>
      videoNearDup(Tables.t(s, dir, "documents"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ----- q232: per-source media QA report — the corpus-curation
    // dashboard a multimodal ingest pipeline runs before admitting a
    // source (the media analog of the q208/q210 quality reports):
    // per source, document and duplicate counts (q225's exact-
    // signature dedup), scene density (q226's cut rule) and silent-
    // frame ratio (q230's adaptive threshold). The design point is
    // ONE corpus scan: all three per-doc statistics derive from the
    // three MediaSig expressions in a single projection, with the
    // scene count and silent count computed ARRAY-LOCALLY (higher-
    // order functions over the signature/energy arrays — no explode,
    // no per-frame shuffle, no window below the doc level); the only
    // cross-doc operations are the phash-partitioned dup window and
    // the final source-keyed aggregate. All-integer throughout
    // (silent_pct is an integer-division percentage). -----
    q("q232_media_qa_report",
      """WITH bytes AS (
        |  SELECT doc_id, length(text) AS L, i.i AS i,
        |    ascii(substr(text, i.i, 1)) AS b
        |  FROM documents, unnest(range(1, length(text)+1)) AS i(i)),
        |px0 AS (SELECT doc_id, ((i-1)*32) // L AS cell,
        |          sum(b) // count(*) AS px
        |        FROM bytes GROUP BY doc_id, ((i-1)*32) // L),
        |grid AS (SELECT d.doc_id, g.cell, coalesce(px0.px, 0) AS px
        |         FROM (SELECT doc_id FROM documents) d
        |         CROSS JOIN (SELECT unnest(range(32)) AS cell) g
        |         LEFT JOIN px0 ON px0.doc_id = d.doc_id
        |                      AND px0.cell = g.cell),
        |b0 AS (SELECT doc_id, cell, px,
        |         lead(px) OVER (PARTITION BY doc_id ORDER BY cell) AS pxr
        |       FROM grid),
        |bits AS (SELECT doc_id, (cell // 8) * 7 + (cell % 8) AS j,
        |           CASE WHEN px < pxr THEN 1 ELSE 0 END AS bit
        |         FROM b0 WHERE cell % 8 < 7),
        |ph AS (SELECT doc_id,
        |         CAST(sum(bit * (1::BIGINT << j)) AS BIGINT) AS phash
        |       FROM bits GROUP BY doc_id),
        |reps AS (SELECT phash, min(doc_id) AS dup_of FROM ph
        |         GROUP BY phash),
        |dup AS (SELECT ph.doc_id,
        |          CASE WHEN ph.doc_id <> reps.dup_of THEN 1 ELSE 0 END
        |            AS is_dup
        |        FROM ph JOIN reps USING (phash)),
        |fpx0 AS (SELECT doc_id, (i-1) // 64 AS frame_idx,
        |           ((i-1) % 64) // 8 AS cell, sum(b) // count(*) AS px
        |         FROM bytes GROUP BY 1, 2, 3),
        |fframes AS (SELECT DISTINCT doc_id, frame_idx FROM fpx0),
        |fgrid AS (SELECT f.doc_id, f.frame_idx, g.cell,
        |            coalesce(fpx0.px, 0) AS px
        |          FROM fframes f
        |          CROSS JOIN (SELECT unnest(range(8)) AS cell) g
        |          LEFT JOIN fpx0 ON fpx0.doc_id = f.doc_id
        |            AND fpx0.frame_idx = f.frame_idx AND fpx0.cell = g.cell),
        |fb0 AS (SELECT doc_id, frame_idx, cell, px,
        |          lead(px) OVER (PARTITION BY doc_id, frame_idx
        |                         ORDER BY cell) AS pxr
        |        FROM fgrid),
        |fsig AS (SELECT doc_id, frame_idx,
        |           CAST(sum(CASE WHEN px < pxr THEN 1::BIGINT << cell
        |                         ELSE 0 END) AS BIGINT) AS sig
        |         FROM fb0 WHERE cell < 7 GROUP BY doc_id, frame_idx),
        |fcuts AS (SELECT doc_id, frame_idx,
        |            CASE WHEN lag(sig) OVER w IS NULL THEN 1
        |                 WHEN bit_count(xor(sig, lag(sig) OVER w)) > 1
        |                 THEN 1 ELSE 0 END AS cut
        |          FROM fsig WINDOW w AS (PARTITION BY doc_id
        |                                 ORDER BY frame_idx)),
        |sccnt AS (SELECT doc_id, sum(cut) AS n_scenes FROM fcuts
        |          GROUP BY doc_id),
        |fr AS (SELECT doc_id, (i-1) // 64 AS frame_idx,
        |         sum(b*b) // count(*) AS energy
        |       FROM bytes GROUP BY 1, 2),
        |fl AS (SELECT doc_id, energy,
        |         CASE WHEN energy <
        |           sum(energy) OVER (PARTITION BY doc_id) //
        |           count(*) OVER (PARTITION BY doc_id)
        |         THEN 1 ELSE 0 END AS silent
        |       FROM fr),
        |frst AS (SELECT doc_id, count(*) AS n_frames,
        |           sum(silent) AS n_silent
        |         FROM fl GROUP BY doc_id)
        |SELECT d.source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(dup.is_dup) AS BIGINT) AS dup_docs,
        |  CAST(sum(coalesce(sccnt.n_scenes, 0)) AS BIGINT) AS n_scenes,
        |  CAST(sum(coalesce(frst.n_frames, 0)) AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN sum(coalesce(frst.n_frames, 0)) = 0 THEN 0
        |    ELSE 100 * sum(coalesce(frst.n_silent, 0))
        |      // sum(coalesce(frst.n_frames, 0)) END AS BIGINT) AS silent_pct
        |FROM documents d
        |JOIN dup ON dup.doc_id = d.doc_id
        |LEFT JOIN sccnt ON sccnt.doc_id = d.doc_id
        |LEFT JOIN frst ON frst.doc_id = d.doc_id
        |GROUP BY d.source
        |ORDER BY d.source""") { (s, dir) =>
      mediaQaReport(Tables.t(s, dir, "documents"))
        .orderBy(col("source"))
    },

    // ----- q233: STREAMING media QA — the live-ingest twin of q232
    // (the dashboard a pipeline watches while a source streams in,
    // the way q193 watches trending terms): per 100 s event-time
    // window per source, document counts, scene density and silent-
    // frame ratio. The per-doc statistics are the same ARRAY-LOCAL
    // folds over the MediaSig expressions (per-row, no aggregation —
    // streaming-safe by construction), so the stream is one
    // watermarked windowed aggregation; groups seal as the watermark
    // passes and the sink holds windows × sources rows. Dup counting
    // is deliberately absent here — cross-doc signature state is
    // q229's job; this operator is the stateless-per-doc health view.
    // Arrival convention: ts = doc_id + 1 s (the q136/q193 clock). -----
    q("q233_stream_media_qa",
      """WITH bytes AS (
        |  SELECT doc_id, i.i AS i, ascii(substr(text, i.i, 1)) AS b
        |  FROM documents, unnest(range(1, length(text)+1)) AS i(i)),
        |fpx0 AS (SELECT doc_id, (i-1) // 64 AS frame_idx,
        |           ((i-1) % 64) // 8 AS cell, sum(b) // count(*) AS px
        |         FROM bytes GROUP BY 1, 2, 3),
        |fframes AS (SELECT DISTINCT doc_id, frame_idx FROM fpx0),
        |fgrid AS (SELECT f.doc_id, f.frame_idx, g.cell,
        |            coalesce(fpx0.px, 0) AS px
        |          FROM fframes f
        |          CROSS JOIN (SELECT unnest(range(8)) AS cell) g
        |          LEFT JOIN fpx0 ON fpx0.doc_id = f.doc_id
        |            AND fpx0.frame_idx = f.frame_idx AND fpx0.cell = g.cell),
        |fb0 AS (SELECT doc_id, frame_idx, cell, px,
        |          lead(px) OVER (PARTITION BY doc_id, frame_idx
        |                         ORDER BY cell) AS pxr
        |        FROM fgrid),
        |fsig AS (SELECT doc_id, frame_idx,
        |           CAST(sum(CASE WHEN px < pxr THEN 1::BIGINT << cell
        |                         ELSE 0 END) AS BIGINT) AS sig
        |         FROM fb0 WHERE cell < 7 GROUP BY doc_id, frame_idx),
        |fcuts AS (SELECT doc_id, frame_idx,
        |            CASE WHEN lag(sig) OVER w IS NULL THEN 1
        |                 WHEN bit_count(xor(sig, lag(sig) OVER w)) > 1
        |                 THEN 1 ELSE 0 END AS cut
        |          FROM fsig WINDOW w AS (PARTITION BY doc_id
        |                                 ORDER BY frame_idx)),
        |sccnt AS (SELECT doc_id, sum(cut) AS n_scenes FROM fcuts
        |          GROUP BY doc_id),
        |fr AS (SELECT doc_id, (i-1) // 64 AS frame_idx,
        |         sum(b*b) // count(*) AS energy
        |       FROM bytes GROUP BY 1, 2),
        |fl AS (SELECT doc_id, energy,
        |         CASE WHEN energy <
        |           sum(energy) OVER (PARTITION BY doc_id) //
        |           count(*) OVER (PARTITION BY doc_id)
        |         THEN 1 ELSE 0 END AS silent
        |       FROM fr),
        |frst AS (SELECT doc_id, count(*) AS n_frames,
        |           sum(silent) AS n_silent
        |         FROM fl GROUP BY doc_id)
        |SELECT epoch_ms(((d.doc_id + 1) // 100) * 100000) AS w_start,
        |  d.source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(coalesce(sccnt.n_scenes, 0)) AS BIGINT) AS n_scenes,
        |  CAST(sum(coalesce(frst.n_frames, 0)) AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN sum(coalesce(frst.n_frames, 0)) = 0 THEN 0
        |    ELSE 100 * sum(coalesce(frst.n_silent, 0))
        |      // sum(coalesce(frst.n_frames, 0)) END AS BIGINT) AS silent_pct
        |FROM documents d
        |LEFT JOIN sccnt ON sccnt.doc_id = d.doc_id
        |LEFT JOIN frst ON frst.doc_id = d.doc_id
        |GROUP BY 1, 2
        |ORDER BY w_start, source""") { (s, dir) =>
      streamMediaQa(s, dir)
    },

    // ----- q234: exact scene-sequence video dedup — q225's cluster
    // reduction brought to the video family, and q231's DUP-HEAVY
    // routing target. In a replica-heavy corpus the true near-dup
    // pair list is Θ(dups²) BY DEFINITION (measured: the x1000
    // replica corpus walls q231's shared-shingle join at Σdf² ≈
    // 1.4e10 candidate rows — PLANS.md r15), but the operator a
    // pipeline actually runs there is per-doc cluster assignment:
    // group by the FULL ordered scene-signature sequence,
    // representative = min doc_id — one aggregate to build the
    // sequence key, one phash-window-style reduction, linear at ANY
    // duplicate density. Replicas collapse here BEFORE q231's pair
    // machinery ever sees them (dedup-then-pair, the q225→q224
    // order). The sequence key is the exact rep_sig list — byte-for-
    // byte scene equality, zero collision risk at any corpus size
    // (the sequences are short; a hash key would be the optimization
    // to reach for when sequences grow long). -----
    q("q234_video_dedup",
      """WITH bytes AS (
        |  SELECT doc_id, i.i AS i, ascii(substr(text, i.i, 1)) AS b
        |  FROM documents, unnest(range(1, length(text)+1)) AS i(i)),
        |px0 AS (SELECT doc_id, (i-1) // 64 AS frame_idx,
        |          ((i-1) % 64) // 8 AS cell, sum(b) // count(*) AS px
        |        FROM bytes GROUP BY 1, 2, 3),
        |frames AS (SELECT DISTINCT doc_id, frame_idx FROM px0),
        |grid AS (SELECT f.doc_id, f.frame_idx, g.cell,
        |           coalesce(px0.px, 0) AS px
        |         FROM frames f
        |         CROSS JOIN (SELECT unnest(range(8)) AS cell) g
        |         LEFT JOIN px0 ON px0.doc_id = f.doc_id
        |           AND px0.frame_idx = f.frame_idx AND px0.cell = g.cell),
        |b0 AS (SELECT doc_id, frame_idx, cell, px,
        |         lead(px) OVER (PARTITION BY doc_id, frame_idx
        |                        ORDER BY cell) AS pxr
        |       FROM grid),
        |sig AS (SELECT doc_id, frame_idx,
        |          CAST(sum(CASE WHEN px < pxr THEN 1::BIGINT << cell
        |                        ELSE 0 END) AS BIGINT) AS sig
        |        FROM b0 WHERE cell < 7 GROUP BY doc_id, frame_idx),
        |cuts AS (SELECT doc_id, frame_idx, sig,
        |           CASE WHEN lag(sig) OVER w IS NULL THEN 1
        |                WHEN bit_count(xor(sig, lag(sig) OVER w)) > 1
        |                THEN 1 ELSE 0 END AS cut
        |         FROM sig WINDOW w AS (PARTITION BY doc_id
        |                               ORDER BY frame_idx)),
        |sc AS (SELECT doc_id, frame_idx, sig,
        |         sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
        |           ROWS UNBOUNDED PRECEDING) AS scene_id
        |       FROM cuts),
        |scenes AS (SELECT doc_id, scene_id, min(sig) AS rep_sig
        |           FROM sc GROUP BY doc_id, scene_id),
        |seqs AS (SELECT doc_id, list(rep_sig ORDER BY scene_id) AS sq,
        |           count(*) AS n_scenes
        |         FROM scenes GROUP BY doc_id),
        |reps AS (SELECT sq, min(doc_id) AS dup_of FROM seqs GROUP BY sq)
        |SELECT seqs.doc_id, CAST(seqs.n_scenes AS BIGINT) AS n_scenes,
        |  reps.dup_of,
        |  CAST(seqs.doc_id <> reps.dup_of AS INTEGER) AS is_dup
        |FROM seqs JOIN reps ON seqs.sq = reps.sq
        |ORDER BY seqs.doc_id""") { (s, dir) =>
      videoDedup(Tables.t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    },

    // ----- q235: media temporal ALIGNMENT — the landmark-hashing
    // retrieval device (Wang 2003's audio-fingerprint shape): which
    // corpus recording does a query clip come from, and at what time
    // offset? Energy PEAKS (frames louder than both neighbors) pair
    // into landmarks (anchor, target) within a 15-frame fan-out; a
    // landmark's key packs the two energy buckets and the frame gap
    // into one integer (ea·16384 + eb·16 + dt — INJECTIVE exact
    // arithmetic: energy buckets e div 64 reach 1016 < 1024, so the
    // eb·16 + dt field tops out at 16271 < 16384; the r15 form's
    // ea·4096 multiplier let eb bleed into the anchor field, merging
    // distinct landmarks — r15 ADVICE medium, fixed in BOTH engines);
    // query landmarks match corpus landmarks by key, and every
    // match VOTES for the time offset anchor_q − anchor_c. The best
    // (match, offset) per query is the alignment — the offset
    // HISTOGRAM is what distinguishes this from q231's set-Jaccard:
    // a true containment concentrates votes on ONE offset, while
    // coincidental key collisions scatter. Query split: doc_id%10=9
    // clips against the rest (the q185 convention). ALL-INTEGER.
    // Plan: landmarks generate ARRAY-LOCALLY per doc (peaks filter out
    // of the energy array in place, pairs unfold inside one transform:
    // scan → project → generate(landmark rows)), then one key-equi
    // vote join and one min-struct aggregate per query. The vote join
    // is Σ over keys of df_query·df_corpus rows — a corpus that
    // saturates the landmark key space pays that product in full. -----
    q("q235_media_align",
      """WITH bytes AS (
        |  SELECT doc_id, i.i AS i, ascii(substr(text, i.i, 1)) AS b
        |  FROM documents, unnest(range(1, length(text)+1)) AS i(i)),
        |fr AS (SELECT doc_id, (i-1) // 64 AS f,
        |         sum(b*b) // count(*) AS e
        |       FROM bytes GROUP BY 1, 2),
        |pk AS (SELECT doc_id, f, e,
        |         lag(e) OVER w AS pe, lead(e) OVER w AS ne
        |       FROM fr WINDOW w AS (PARTITION BY doc_id ORDER BY f)),
        |peaks AS (SELECT doc_id, f, e FROM pk
        |          WHERE pe IS NOT NULL AND ne IS NOT NULL
        |            AND e > pe AND e > ne),
        |lm AS (SELECT DISTINCT a.doc_id,
        |         (a.e // 64) * 16384 + (b.e // 64) * 16 + (b.f - a.f)
        |           AS key,
        |         a.f AS af
        |       FROM peaks a JOIN peaks b ON b.doc_id = a.doc_id
        |         AND b.f > a.f AND b.f - a.f <= 15),
        |v AS (SELECT q.doc_id AS query_id, c.doc_id AS match_id,
        |        q.af - c.af AS t_offset, count(*) AS votes
        |      FROM lm q JOIN lm c ON c.key = q.key
        |      WHERE q.doc_id % 10 = 9 AND c.doc_id % 10 <> 9
        |      GROUP BY 1, 2, 3),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |        ORDER BY votes DESC, match_id, t_offset) AS rk FROM v)
        |SELECT query_id, match_id, CAST(t_offset AS BIGINT) AS t_offset,
        |  CAST(votes AS BIGINT) AS votes
        |FROM r WHERE rk = 1 ORDER BY query_id""") { (s, dir) =>
      mediaAlign(Tables.t(s, dir, "documents"))
        .orderBy(col("query_id"))
    },

    // ----- q239: CROSS-MODAL pair consistency (r15 verdict item 4 —
    // the multimodal pillar's first operator that JOINS modalities):
    // caption↔media pairing QA for a paired corpus. Candidate pairs
    // come from BOTH modality-native generators — the text side's
    // MinHash LSH bands (q52's machinery) and the media side's dHash
    // block pigeonhole (q224's) — each bounded and never-all-pairs;
    // the union is classified per pair: near-dup in both modalities
    // ('consistent' — a true duplicate pair, safe to dedup), text-only
    // ('text_only' — same caption, different media: caption
    // boilerplate), media-only ('media_only' — same media, different
    // caption: alt-text variance). These verdicts are exactly the QA
    // signals a caption-image curation pipeline routes on (drop
    // consistent dups, flag boilerplate captions, merge alt-texts).
    // On this synthetic table the caption and the payload derive from
    // one column (the q59 stance: the text IS the caption, its UTF-8
    // bytes stand in for the media); in production the two sides are
    // separate columns and the plan shape — two signature families,
    // two bucketed candidate joins, one pair-keyed outer join — is
    // unchanged. Both pair lists are exact; on a duplicate-heavy
    // corpus they are quadratic in each clone family's size, as the
    // true pair list is. -----
    q("q239_crossmodal_pairs",
      Dedup.duckPairsCtes(recursive = false) +
        """,
          |mbytes AS (
          |  SELECT doc_id, length(text) AS L, i.i AS i,
          |    ascii(substr(text, i.i, 1)) AS b
          |  FROM documents, unnest(range(1, length(text)+1)) AS i(i)),
          |mpx0 AS (SELECT doc_id, ((i-1)*32) // L AS cell,
          |           sum(b) // count(*) AS px
          |         FROM mbytes GROUP BY doc_id, ((i-1)*32) // L),
          |mgrid AS (SELECT d.doc_id, g.cell, coalesce(mpx0.px, 0) AS px
          |          FROM (SELECT doc_id FROM documents) d
          |          CROSS JOIN (SELECT unnest(range(32)) AS cell) g
          |          LEFT JOIN mpx0 ON mpx0.doc_id = d.doc_id
          |                        AND mpx0.cell = g.cell),
          |mb0 AS (SELECT doc_id, cell, px,
          |          lead(px) OVER (PARTITION BY doc_id ORDER BY cell) AS pxr
          |        FROM mgrid),
          |mbits AS (SELECT doc_id, (cell // 8) * 7 + (cell % 8) AS j,
          |            CASE WHEN px < pxr THEN 1 ELSE 0 END AS bit
          |          FROM mb0 WHERE cell % 8 < 7),
          |mph AS (SELECT doc_id,
          |          CAST(sum(bit * (1::BIGINT << j)) AS BIGINT) AS phash
          |        FROM mbits GROUP BY doc_id),
          |mbl AS (SELECT doc_id, phash, j, (phash >> (7*j)) & 127 AS bkt
          |        FROM mph CROSS JOIN (SELECT unnest(range(4)) AS j)),
          |mcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |            a.phash AS ha, b.phash AS hb
          |          FROM mbl a JOIN mbl b ON a.j = b.j AND a.bkt = b.bkt
          |            AND a.doc_id < b.doc_id),
          |mp AS (SELECT doc_a, doc_b,
          |         CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
          |       FROM mcand WHERE bit_count(xor(ha, hb)) <= 3)
          |SELECT coalesce(g.doc_a, m.doc_a) AS doc_a,
          |  coalesce(g.doc_b, m.doc_b) AS doc_b,
          |  coalesce(g.jacc, -1.0) AS jacc,
          |  CAST(coalesce(m.hamming, -1) AS INTEGER) AS hamming,
          |  CASE WHEN g.doc_a IS NOT NULL AND m.doc_a IS NOT NULL
          |         THEN 'consistent'
          |       WHEN g.doc_a IS NOT NULL THEN 'text_only'
          |       ELSE 'media_only' END AS verdict
          |FROM good g FULL JOIN mp m
          |  ON g.doc_a = m.doc_a AND g.doc_b = m.doc_b
          |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      crossModalPairs(Tables.t(s, dir, "documents"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ----- q245: cross-modal DEDUP KEEP-LIST — q239's verdicts acted
    // on, the way q133 acts on q52's pairs: only the CONSISTENT pairs
    // (near-dup in BOTH modalities — the high-precision duplicate
    // signal; text_only/media_only are QA flags, not dedup evidence)
    // become edges of the duplicate graph, connected components name
    // each cluster by its smallest doc_id, and `keep` marks the
    // canonical representative per cluster. This is the keep-list a
    // PAIRED-corpus (caption+image) curation pipeline ships: dedup
    // evidence must agree across modalities before a document is
    // dropped, which is exactly how production multimodal dedup
    // avoids collapsing same-caption-different-image families. Same
    // scale shape as q133 (bounded candidate joins + Pregel CC —
    // never all-pairs, supersteps bounded by cluster diameter). -----
    q("q245_crossmodal_dedup_clusters",
      Dedup.duckPairsCtes(recursive = true) +
        """,
          |mbytes AS (
          |  SELECT doc_id, length(text) AS L, i.i AS i,
          |    ascii(substr(text, i.i, 1)) AS b
          |  FROM documents, unnest(range(1, length(text)+1)) AS i(i)),
          |mpx0 AS (SELECT doc_id, ((i-1)*32) // L AS cell,
          |           sum(b) // count(*) AS px
          |         FROM mbytes GROUP BY doc_id, ((i-1)*32) // L),
          |mgrid AS (SELECT d.doc_id, g.cell, coalesce(mpx0.px, 0) AS px
          |          FROM (SELECT doc_id FROM documents) d
          |          CROSS JOIN (SELECT unnest(range(32)) AS cell) g
          |          LEFT JOIN mpx0 ON mpx0.doc_id = d.doc_id
          |                        AND mpx0.cell = g.cell),
          |mb0 AS (SELECT doc_id, cell, px,
          |          lead(px) OVER (PARTITION BY doc_id ORDER BY cell) AS pxr
          |        FROM mgrid),
          |mbits AS (SELECT doc_id, (cell // 8) * 7 + (cell % 8) AS j,
          |            CASE WHEN px < pxr THEN 1 ELSE 0 END AS bit
          |          FROM mb0 WHERE cell % 8 < 7),
          |mph AS (SELECT doc_id,
          |          CAST(sum(bit * (1::BIGINT << j)) AS BIGINT) AS phash
          |        FROM mbits GROUP BY doc_id),
          |mbl AS (SELECT doc_id, phash, j, (phash >> (7*j)) & 127 AS bkt
          |        FROM mph CROSS JOIN (SELECT unnest(range(4)) AS j)),
          |mcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |            a.phash AS ha, b.phash AS hb
          |          FROM mbl a JOIN mbl b ON a.j = b.j AND a.bkt = b.bkt
          |            AND a.doc_id < b.doc_id),
          |mp AS (SELECT doc_a, doc_b FROM mcand
          |       WHERE bit_count(xor(ha, hb)) <= 3),
          |cons AS (SELECT g.doc_a, g.doc_b FROM good g
          |         JOIN mp m ON g.doc_a = m.doc_a AND g.doc_b = m.doc_b),
          |edges AS (SELECT doc_a AS a, doc_b AS b FROM cons
          |          UNION SELECT doc_b, doc_a FROM cons),
          |walk(a, b) AS (
          |  SELECT a, b FROM edges
          |  UNION SELECT a, a FROM edges
          |  UNION SELECT w.a, e.b FROM walk w JOIN edges e ON w.b = e.a)
          |SELECT a AS doc_id, min(b) AS cluster_id, a = min(b) AS keep
          |FROM walk GROUP BY a ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val pairs = crossModalPairs(Tables.t(s, dir, "documents"))
        .filter(col("verdict") === "consistent")
        .select(col("doc_a"), col("doc_b"))
        .localCheckpoint()
      graft.graph.Graph.fromEdges(
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .connectedComponents()
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"),
          (col("id") === col("comp")).as("keep"))
        .orderBy(col("doc_id"))
    }
  )

  /** q239's engine: the two modality-native verified pair lists,
    * outer-joined on the pair key and classified. Both generators are
    * the family's proven bounded shapes (LSH band buckets / dHash
    * block pigeonhole); the only new operation is a pair-keyed full
    * outer join — pair-list-sized, never corpus-sized. Unordered —
    * the query sorts. */
  private[pipeline] def crossModalPairs(docs: DataFrame): DataFrame = {
    val text = Dedup.lshVerifiedPairs(docs)
      .select(col("doc_a"), col("doc_b"), col("jacc"))
    val media = phashNearDup(docs)
    text.join(media, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("jacc"), lit(-1.0)).as("jacc"),
        coalesce(col("hamming"), lit(-1)).cast("int").as("hamming"),
        when(col("jacc").isNotNull && col("hamming").isNotNull,
          "consistent")
          .when(col("jacc").isNotNull, "text_only")
          .otherwise("media_only").as("verdict"))
  }

  /** q226's engine, factored so MultimodalSpec can drive synthetic
    * frame sequences: per-frame 7-bit signatures (one dHash row per
    * 64-byte frame), cuts where consecutive-frame hamming > 1, scene
    * rows per (doc, running cut count). Unordered — the query sorts. */
  private[pipeline] def sceneSegments(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r15: the per-frame signatures come out of ONE codegen'd pass
    // over the payload bytes (functions/MediaSig.FrameSigs — the
    // VecMath treatment), so the plan is scan → frame_sigs →
    // posexplode(one LONG per FRAME, len/64 rows — not len rows) →
    // per-doc window. The r14 form's per-byte Generate (1.5e9 rows at
    // the 1000× tier, PLANS.md's named wall) and its 8-cell pivoted
    // aggregate + (doc, frame) shuffle no longer exist in the plan.
    // Bit-identical signatures — the oracle still spells the
    // relational form; an empty payload now yields zero frames,
    // matching the oracle (the r14 ADVICE divergence, closed).
    val sig = docs
      .select(col("doc_id"),
        posexplode(graft.functions.MediaSig.frame_sigs(
          encode(col("text"), "UTF-8"))).as(Seq("frame_idx", "sig")))
    // per-doc window: frames-per-payload-bounded (len/64 rows)
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    sig.withColumn("prev", lag(col("sig"), 1).over(wd))
      .withColumn("cut",
        when(col("prev").isNull, 1L)
          .when(bit_count(col("sig").bitwiseXOR(col("prev"))) > 1, 1L)
          .otherwise(0L))
      .withColumn("scene_id", sum(col("cut")).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("scene_id"))
      .agg(min(col("frame_idx")).cast("long").as("start_frame"),
        count(lit(1)).as("n_frames"),
        min(col("sig")).as("rep_sig"))
  }

  /** q230's engine, factored so MultimodalSpec can drive synthetic
    * payloads: per-frame mean-square energy (one codegen'd pass),
    * per-doc adaptive threshold (the doc's mean frame energy,
    * computed array-locally — no shuffle, no second pass), silent
    * runs collapsed gaps-and-islands style. Unordered — the query
    * sorts. */
  private[pipeline] def audioSegments(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fl = docs
      .select(col("doc_id"),
        graft.functions.MediaSig.frame_energies(
          encode(col("text"), "UTF-8")).as("en"))
      // per-doc threshold from the array itself: sum div size — the
      // exact integer mean the oracle's per-doc window computes
      .withColumn("thr",
        expr("aggregate(en, 0L, (a, x) -> a + x) div size(en)"))
      .select(col("doc_id"), col("thr"),
        posexplode(col("en")).as(Seq("frame_idx", "energy")))
      .withColumn("silent",
        when(col("energy") < col("thr"), 1L).otherwise(0L))
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    fl.withColumn("prev", lag(col("silent"), 1).over(wd))
      .withColumn("cut",
        when(col("prev").isNull || col("prev") =!= col("silent"), 1L)
          .otherwise(0L))
      .withColumn("seg_id", sum(col("cut")).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("seg_id"))
      .agg(min(col("silent")).cast("int").as("is_silence"),
        min(col("frame_idx")).cast("long").as("start_frame"),
        count(lit(1)).as("n_frames"),
        sum(col("energy")).as("tot_energy"))
  }

  /** q232's engine: one projection computes all three MediaSig
    * expressions; scene count and silent count fold over the arrays
    * in place (higher-order functions — no explode, no sub-doc
    * window); the phash dup flag is the q225 window; the report is
    * one source-keyed aggregate. Unordered — the query sorts. */
  /** Per-row media statistics, folded ARRAY-LOCALLY over the MediaSig
    * expressions (no explode, no sub-doc window — streaming-safe, so
    * q233 reuses it per-row inside a watermarked stream): n_scenes =
    * 1 + #(consecutive-frame hamming jumps > 1) (the q226 cut rule),
    * n_silent vs the q230 per-doc adaptive threshold, n_frames. */
  private def withMediaStats(docs: DataFrame): DataFrame =
    docs
      .withColumn("fs", graft.functions.MediaSig.frame_sigs(
        encode(col("text"), "UTF-8")))
      .withColumn("fe", graft.functions.MediaSig.frame_energies(
        encode(col("text"), "UTF-8")))
      .withColumn("n_scenes", expr(
        """CASE WHEN size(fs) <= 1 THEN CAST(size(fs) AS BIGINT)
          |ELSE CAST(size(filter(sequence(1, size(fs)-1),
          |       i -> bit_count(fs[i] ^ fs[i-1]) > 1)) + 1 AS BIGINT)
          |END""".stripMargin))
      .withColumn("n_silent", expr(
        """CASE WHEN size(fe) = 0 THEN 0L
          |ELSE CAST(size(filter(fe,
          |       e -> e < aggregate(fe, 0L, (a, x) -> a + x)
          |              div size(fe))) AS BIGINT)
          |END""".stripMargin))
      .withColumn("n_frames", expr("CAST(size(fe) AS BIGINT)"))
      .drop("fs", "fe")

  /** q233's engine: watermark-sealed windowed per-source media
    * stats; per-doc statistics fold per ROW (withMediaStats — no
    * sub-aggregation), so the stream is one windowed aggregation in
    * append mode, deterministic under any micro-batch boundaries.
    * The far-future sentinel drives the watermark past the last real
    * doc so every real window seals (its own window never does and
    * is never emitted — the q136/q193 device). */
  private[pipeline] def streamMediaQa(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sq = s.sqlContext
    val sentinelSec = 4102444800L // epoch 2100 — the q136 convention
    val maxId = Tables.t(s, dir, "documents")
      .agg(max(col("doc_id").cast("long"))).head.getLong(0)
    require(maxId + 1 < sentinelSec,
      s"doc_id $maxId reaches the watermark sentinel epoch $sentinelSec")
    val sentinel = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)]
    sentinel.addData((sentinelSec, "zsentinel", "zsrc"))
    val stream = Tables.stream(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("source"))
      .unionByName(sentinel.toDF().toDF("doc_id", "text", "source"))
      .withColumn("ts", expr("timestamp_seconds(doc_id + 1)"))
      .withWatermark("ts", "0 seconds")
    val agg = withMediaStats(stream)
      .groupBy(window(col("ts"), "100 seconds"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_scenes")).as("n_scenes"),
        sum(col("n_frames")).as("n_frames"),
        sum(col("n_silent")).as("n_silent"))
    Drain.toMemory(agg, "graft_stream_media_qa", "append")._1
      .select(col("window.start").as("w_start"), col("source"),
        col("n_docs"), col("n_scenes"), col("n_frames"),
        // zero guard (r15 ADVICE): a window whose docs are all empty
        // payloads has n_frames = 0 — Spark `div` would yield NULL
        // while DuckDB `//` raises; both sides emit 0 instead
        expr("CASE WHEN n_frames = 0 THEN 0L " +
          "ELSE 100 * n_silent div n_frames END").as("silent_pct"))
      .orderBy(col("w_start"), col("source"))
  }

  private[pipeline] def mediaQaReport(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    withMediaStats(
      docs.select(col("doc_id"), col("source"), col("text")))
      .withColumn("phash", graft.functions.MediaSig.dhash_sig(
        encode(col("text"), "UTF-8")))
      .drop("text")
      .withColumn("dup_of",
        min(col("doc_id")).over(Window.partitionBy(col("phash"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("doc_id") =!= col("dup_of")).cast("long")).as("dup_docs"),
        sum(col("n_scenes")).as("n_scenes"),
        sum(col("n_frames")).as("n_frames"),
        // zero guard (r15 ADVICE): all-empty-payload sources degrade
        // to 0 instead of NULL/division-by-zero divergence
        expr("CASE WHEN sum(n_frames) = 0 THEN 0L " +
          "ELSE 100 * sum(n_silent) div sum(n_frames) END").as("silent_pct"))
  }

  /** (doc_id, en) → distinct (doc_id, key, af) landmark rows, built
    * ARRAY-LOCALLY: peaks filter out of the energy array in place
    * (index-lambda transform — no explode, no per-doc window, no
    * collect_list re-sort: transform preserves frame order), pairs
    * unfold inside one nested transform. The only row expansion is
    * the final landmark explode — peaks-per-doc-bounded. */
  private[pipeline] def alignLandmarks(en: DataFrame): DataFrame =
    en.withColumn("ps", expr(
        """filter(transform(en, (x, i) -> struct(i AS f, x AS e)),
          |  p -> p.f > 0 AND p.f < size(en) - 1
          |       AND p.e > en[p.f - 1] AND p.e > en[p.f + 1])"""
          .stripMargin))
      .select(col("doc_id"), explode(expr(
        """flatten(transform(ps, (a, i) ->
          |  filter(transform(ps, (b, j) ->
          |    CASE WHEN j > i AND b.f - a.f <= 15 THEN
          |      struct((a.e div 64) * 16384 + (b.e div 64) * 16
          |               + (b.f - a.f) AS key,
          |             a.f AS af)
          |    END), x -> x IS NOT NULL)))""".stripMargin)).as("lm"))
      .select(col("doc_id"), col("lm.key").as("key"), col("lm.af").as("af"))
      .distinct()

  /** The key-equi vote join + best-alignment aggregate over a
    * landmark frame. The landmark subtree is deliberately NOT
    * checkpointed: it is scan-bound and embarrassingly parallel, so
    * recomputing it per consumer beats materializing a corpus-sized
    * intermediate (and keeps the executed plan inspectable — PlanSpec
    * pins the fused frame_energies expression on it). */
  private[pipeline] def alignVotes(lms: DataFrame): DataFrame = {
    val q = lms.filter(col("doc_id") % 10 === 9)
      .select(col("doc_id").as("query_id"), col("key"), col("af").as("qf"))
    val c = lms.filter(col("doc_id") % 10 =!= 9)
      .select(col("doc_id").as("match_id"), col("key"), col("af").as("cf"))
    q.join(c, "key")
      .groupBy(col("query_id"), col("match_id"),
        (col("qf") - col("cf")).as("t_offset"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("query_id"))
      .agg(min(struct((-col("votes")).as("nv"), col("match_id"),
        col("t_offset"), col("votes"))).as("m"))
      .select(col("query_id"), col("m.match_id").as("match_id"),
        col("m.t_offset").cast("long").as("t_offset"),
        col("m.votes").cast("long").as("votes"))
  }

  /** q235's engine: array-local landmark build ([[alignLandmarks]]),
    * key-equi vote join ([[alignVotes]]), best alignment per query via
    * one min-struct aggregate. Unordered — the query sorts. */
  private[pipeline] def mediaAlign(docs: DataFrame): DataFrame =
    alignVotes(alignLandmarks(docs.select(col("doc_id"),
      graft.functions.MediaSig.frame_energies(
        encode(col("text"), "UTF-8")).as("en"))))

  /** q234's engine: per-doc ordered scene-signature sequence (one
    * aggregate — sort_array over (scene_id, rep_sig) structs keeps
    * the order deterministic without a second window), then the q225
    * reduction: representative = min doc_id over the sequence-
    * partitioned window. Linear at any duplicate density. */
  private[pipeline] def videoDedup(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seqs = sceneSegments(docs)
      .groupBy(col("doc_id"))
      .agg(expr("transform(sort_array(collect_list(struct(scene_id, rep_sig))), " +
        "x -> x.rep_sig)").as("sq"),
        count(lit(1)).as("n_scenes"))
    seqs
      .withColumn("dup_of",
        min(col("doc_id")).over(Window.partitionBy(col("sq"))))
      .select(col("doc_id"), col("n_scenes"), col("dup_of"),
        (col("doc_id") =!= col("dup_of")).cast("int").as("is_dup"))
  }

  /** q231's engine: scene-trigram shingles (exact integer packing of
    * three consecutive 7-bit scene rep_sigs) → shared-shingle pair
    * join → all-integer Jaccard fence at 50 %. Docs with fewer than 3
    * scenes carry no shingles and never pair. Unordered — the query
    * sorts.
    *
    * The pair space grows as Σdf² over shingles (measured: df stays
    * single-digit at sf0.1, Σdf² ≈ 1e8 at the 100×/z100 tier — fine;
    * the 1000×-REPLICA regime's true pair list is Θ(dups²) by
    * definition and routes to q234's cluster reduction instead —
    * PLANS.md r15). */
  private[pipeline] def videoNearDup(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("scene_id"))
    val sh = sceneSegments(docs)
      .select(col("doc_id"), col("scene_id"), col("rep_sig"))
      .withColumn("s2", lead(col("rep_sig"), 1).over(wd))
      .withColumn("s3", lead(col("rep_sig"), 2).over(wd))
      .filter(col("s3").isNotNull)
      .select(col("doc_id"),
        (col("rep_sig") * 16384 + col("s2") * 128 + col("s3")).as("sh"))
      .distinct()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .filter(lit(100) * col("n_shared") >=
        lit(50) * (col("na") + col("nb") - col("n_shared")))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        expr("100 * n_shared div (na + nb - n_shared)").as("jac_pct"))
  }

  /** q224's engine: every document's dHash fans out to its four 7-bit
    * blocks, docs sharing a (block, bucket) pair up, and the distinct
    * candidates keep hamming ≤ 3 — exact by the pigeonhole argument
    * (three differing bits cannot cover four blocks). Unordered — the
    * query sorts. */
  private[pipeline] def phashNearDup(docs: DataFrame): DataFrame = {
    val bl = phash(docs).select(col("doc_id"), col("phash"),
        explode(sequence(lit(0), lit(3))).as("j"))
      .withColumn("bkt", expr("shiftright(phash, 7*j) & 127"))
    val a = bl.select(col("doc_id").as("doc_a"), col("j"), col("bkt"),
      col("phash").as("ha"))
    val b = bl.select(col("doc_id").as("doc_b"), col("j"), col("bkt"),
      col("phash").as("hb"))
    a.join(b, Seq("j", "bkt"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("ha"), col("hb")).distinct()
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int"))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** The 28-bit integer dHash per document (4 rows × 8 cols) —
    * factored so MultimodalSpec can pin signature invariants. All-
    * integer: binning, pooling and the bit pack are div/shift/compare
    * on exact longs, zero float surface (the q223 discipline applied
    * to the multimodal family). */
  private[pipeline] def phash(docs: DataFrame): DataFrame =
    // r15: the whole signature — nearest-rank binning, integer-mean
    // pooling, gradient-bit pack — runs inside ONE codegen'd
    // expression over the payload bytes (functions/MediaSig.DHashSig,
    // the VecMath treatment), so the plan is scan → project: the
    // per-byte Generate (1.5e9 rows at the 1000× tier — PLANS.md r14's
    // named wall for this family), the 64-branch pivoted aggregate,
    // and the per-doc shuffle they fed ALL disappear; nothing larger
    // than (doc_id, 8-byte hash) leaves the scan stage. Bit-identical
    // to the relational form (the oracle still spells that form);
    // empty payloads now hash to the oracle's densified 0 instead of
    // the exploded form's phantom sequence(1,0) rows (r14 ADVICE).
    docs.select(col("doc_id"),
      graft.functions.MediaSig.dhash_sig(
        encode(col("text"), "UTF-8")).as("phash"))
}
