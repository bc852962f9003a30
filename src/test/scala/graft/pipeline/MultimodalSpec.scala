package graft.pipeline

import graft.{Registry, SparkSpec}
import org.apache.spark.sql.functions._

/** Behavioural pins for q224's integer dHash beyond the oracle
  * hash-compare: signature range, the pigeonhole EXACTNESS claim
  * (blocked candidates lose NO pair at hamming ≤ 3 vs the all-pairs
  * truth), and the identical-payload ⇒ hamming-0 contract.
  */
class MultimodalSpec extends SparkSpec {

  private def run(name: String) =
    Registry.all.find(_.name == name).get.fn(spark, sf)

  test("q224 dHash: 28-bit signatures, deterministic") {
    val docs = graft.Tables.t(spark, sf, "documents")
    val sigs = Multimodal.phash(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("phash")).toMap
    assert(sigs.nonEmpty)
    sigs.values.foreach(h => assert(h >= 0L && h < (1L << 28)))
    val again = Multimodal.phash(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("phash")).toMap
    assert(sigs == again)
  }

  test("q224 pigeonhole: blocked candidates equal the all-pairs truth at hamming <= 3") {
    val docs = graft.Tables.t(spark, sf, "documents")
    val sigs = Multimodal.phash(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("phash")))
    // brute-force ground truth on the driver (sf0.001: 500 sigs)
    val truth = (for {
      (da, ha) <- sigs; (db, hb) <- sigs if da < db
      h = java.lang.Long.bitCount(ha ^ hb) if h <= 3
    } yield (da, db, h)).toSet
    val blocked = run("q224_phash_near_dup").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("hamming").toLong.toInt)).toSet
    assert(truth.nonEmpty, "corpus has no <=3 pairs — spec lost its teeth")
    assert(blocked == truth,
      s"blocked path lost/invented pairs: missing=${truth -- blocked}, extra=${blocked -- truth}")
  }

  test("q225 cluster reduction: representative is the min id of each signature class") {
    val rows = run("q225_phash_dedup").collect()
    assert(rows.nonEmpty)
    val byHash = rows.groupBy(_.getAs[Long]("phash"))
    byHash.foreach { case (_, grp) =>
      val ids = grp.map(_.getAs[Long]("doc_id"))
      val reps = grp.map(_.getAs[Long]("dup_of")).distinct
      assert(reps.length == 1 && reps.head == ids.min)
    }
    rows.foreach { r =>
      assert((r.getAs[Int]("is_dup") == 1) ==
        (r.getAs[Long]("doc_id") != r.getAs[Long]("dup_of")))
    }
  }

  test("q226 scenes: partition each doc's frames exactly, cuts respect the hamming fence") {
    val rows = run("q226_scene_segments").collect()
    assert(rows.nonEmpty)
    val docs = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), length(col("text")).as("len")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("len")).toMap
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet == docs.keySet, "every doc gets scenes")
    byDoc.foreach { case (id, scenes) =>
      val sorted = scenes.sortBy(_.getAs[Long]("scene_id"))
      // scenes tile the frame range with no gap or overlap
      val nFrames = (docs(id) + 63) / 64
      assert(sorted.head.getAs[Long]("start_frame") == 0L)
      assert(sorted.map(_.getAs[Long]("n_frames")).sum == nFrames)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("start_frame") ==
            a.getAs[Long]("start_frame") + a.getAs[Long]("n_frames"))
          assert(b.getAs[Long]("scene_id") == a.getAs[Long]("scene_id") + 1)
        case _ =>
      }
      sorted.foreach(r => assert(r.getAs[Long]("rep_sig") >= 0L &&
        r.getAs[Long]("rep_sig") < 128L))
    }
  }

  test("q226: identical consecutive frames share a scene, a signature jump cuts") {
    import spark.implicits._
    // 3 frames: f0 == f1 byte-identical (hamming 0 — same scene);
    // f2 reverses the gradient (high bytes first — guaranteed cut)
    val up = "aaaaaaaabbbbbbbbccccccccddddddddeeeeeeeeffffffffgggggggghhhhhhhh"
    val down = up.reverse
    val docs = Seq((1L, up + up + down)).toDF("doc_id", "text")
    val tiny = Multimodal.sceneSegments(docs).collect()
      .sortBy(_.getAs[Long]("scene_id"))
    assert(tiny.length == 2, s"expected 2 scenes, got ${tiny.toSeq}")
    assert(tiny(0).getAs[Long]("n_frames") == 2L)
    assert(tiny(1).getAs[Long]("start_frame") == 2L)
  }

  test("q229 streaming phash dedup equals the batch all-pairs truth") {
    // the pigeonhole-in-state argument: bucket-local smallest-earlier
    // verdicts reduce (via min over blocks) to exactly the global
    // smallest earlier doc within hamming <= 3 — checked against a
    // driver-side brute force over the real corpus signatures
    val docs = graft.Tables.t(spark, sf, "documents")
    val sigs = Multimodal.phash(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("phash")))
      .sortBy(_._1)
    val truth = (for {
      ((da, ha), i) <- sigs.zipWithIndex
      dup = sigs.take(i).filter(e => java.lang.Long.bitCount(e._2 ^ ha) <= 3)
        .map(_._1).minOption
      d <- dup
    } yield (da, d)).toMap
    assert(truth.nonEmpty, "corpus has no <=3 dup for any doc — spec lost its teeth")
    val streamed = run("q229_stream_phash_dedup").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_of")).toMap
    assert(streamed == truth,
      s"stream verdict diverged: missing=${truth.toSet -- streamed.toSet}, " +
        s"extra=${streamed.toSet -- truth.toSet}")
  }

  test("q229 horizon forgets payload duplicates older than the window") {
    import spark.implicits._
    // ids 1 and 200 byte-identical (hamming 0) but 199 synthetic
    // seconds apart; 210/211 adjacent identicals
    val dir = java.nio.file.Files.createTempDirectory("graft_ph_horizon").toString
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (200L, "the quick brown fox jumps over the lazy dog again and again"),
      (210L, "pack my box with five dozen liquor jugs right now my friend"),
      (211L, "pack my box with five dozen liquor jugs right now my friend")
    ).toDF("doc_id", "text").coalesce(1)
      .write.parquet(dir + "/documents.parquet")

    val global = StreamingDedup.phashDedup(spark, dir)._1
      .as[(Long, Long)].collect().toSet
    assert(global == Set((200L, 1L), (211L, 210L)))

    // 60s horizon: doc 1 has aged out when 200 arrives; the adjacent
    // pair still dedups
    val windowed = StreamingDedup.phashDedup(spark, dir, horizonSeconds = Some(60L))._1
      .as[(Long, Long)].collect().toSet
    assert(windowed == Set((211L, 210L)))
  }

  test("q230 segments tile each doc's frames; silent flags alternate by construction") {
    val rows = run("q230_audio_segments").collect()
    assert(rows.nonEmpty)
    val docs = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), length(col("text")).as("len")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("len")).toMap
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet == docs.keySet, "every doc gets segments")
    byDoc.foreach { case (id, segs) =>
      val sorted = segs.sortBy(_.getAs[Long]("seg_id"))
      val nFrames = (docs(id) + 63) / 64
      assert(sorted.head.getAs[Long]("start_frame") == 0L)
      assert(sorted.map(_.getAs[Long]("n_frames")).sum == nFrames)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("start_frame") ==
            a.getAs[Long]("start_frame") + a.getAs[Long]("n_frames"))
          // consecutive segments must differ in flag — otherwise the
          // run should have merged
          assert(a.getAs[Int]("is_silence") != b.getAs[Int]("is_silence"))
        case _ =>
      }
    }
  }

  test("q230: quiet frames segment away from loud frames at the doc-mean threshold") {
    import spark.implicits._
    // 4 frames: two all-'z' (energy 122^2), two all-space (32^2) —
    // threshold = mean, so exactly two segments: loud then silent
    val loud = "z" * 128
    val quiet = " " * 128
    val tiny = Multimodal.audioSegments(
        Seq((1L, loud + quiet)).toDF("doc_id", "text"))
      .collect().sortBy(_.getAs[Long]("seg_id"))
    assert(tiny.length == 2, s"expected 2 segments, got ${tiny.toSeq}")
    assert(tiny(0).getAs[Int]("is_silence") == 0 &&
      tiny(0).getAs[Long]("n_frames") == 2L)
    assert(tiny(1).getAs[Int]("is_silence") == 1 &&
      tiny(1).getAs[Long]("start_frame") == 2L)
    assert(tiny(0).getAs[Long]("tot_energy") == 2L * 122 * 122)
    assert(tiny(1).getAs[Long]("tot_energy") == 2L * 32 * 32)
  }

  test("q231 pairs a hot-shingle family completely and keeps the rare pair") {
    import spark.implicits._
    // 12 identical "hot" docs (their shared shingles reach df 12) and
    // one unrelated pair (df-2 shingles). Alternating rising/falling
    // 64-byte frames force a cut at every frame boundary -> 4 scenes
    // -> 2 trigram shingles per doc.
    val up = "aaaaaaaabbbbbbbbccccccccddddddddeeeeeeeeffffffffgggggggghhhhhhhh"
    val down = up.reverse
    val hot = up + down + up + down
    // distinct byte mix -> different scene signatures from `hot`
    val up2 = "aabbccddeeffgghhaabbccddeeffgghhaabbccddeeffgghhaabbccddeeffzzzz"
    val rare = up2 + up2.reverse + up2 + up2.reverse
    val docs = ((1 to 12).map(i => (i.toLong, hot)) ++
      Seq((100L, rare), (101L, rare))).toDF("doc_id", "text")
    val full = Multimodal.videoNearDup(docs)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    assert(full.contains((100L, 101L)), "rare pair missing from exact run")
    assert(full.count(p => p._1 <= 12 && p._2 <= 12) == 66,
      "hot family must pair completely in the exact run")
  }

  test("q234 cluster reduction: identical scene sequences share the min-id representative") {
    val rows = run("q234_video_dedup").collect()
    assert(rows.nonEmpty)
    val docs = graft.Tables.t(spark, sf, "documents").count()
    assert(rows.length == docs, "every doc gets a cluster row")
    rows.foreach { r =>
      assert((r.getAs[Int]("is_dup") == 1) ==
        (r.getAs[Long]("doc_id") != r.getAs[Long]("dup_of")))
      assert(r.getAs[Long]("dup_of") <= r.getAs[Long]("doc_id"))
    }
    // q234 clusters refine q225's: same scene sequence ⇒ docs also
    // agree frame-for-frame far more often than the 28-bit dHash, so
    // any two docs q234 groups must hash-agree under q224's dHash
    // only if their full byte layout agrees — no containment either
    // way is guaranteed; what IS guaranteed: identical text ⇒ same
    // cluster. Check it on the corpus's exact-text duplicates.
    val texts = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    val byText = texts.groupBy(_._2).values.filter(_.length > 1)
    val cluster = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_of")).toMap
    byText.foreach { grp =>
      val reps = grp.map(g => cluster(g._1)).distinct
      assert(reps.length == 1, s"identical texts split clusters: $grp")
    }
  }

  test("q245 clusters are the components of its consistent pairs") {
    import spark.implicits._
    // 4 clone families × 12 copies + 2 singletons. Families f0/f1
    // share most words (near-dup texts), f2 is distinct prose, f3 has
    // only 2 words (shingle-less: its members must NOT merge). Ids
    // interleave so representatives aren't block-aligned.
    val f0 = "the quick brown fox jumps over the lazy dog near the barn " +
      "while rain falls softly on the quiet field all day long"
    val f1 = "the quick brown fox jumps over the lazy dog near the barn " +
      "while snow falls softly on the quiet field all day long"
    val f2 = "entirely different prose about compilers lexers parsers " +
      "registers allocators and the festering art of code generation"
    val f3 = "tiny payload"
    val fams = Seq(f0, f1, f2, f3)
    val docs = (0 until 48).map(i => (i.toLong, fams(i % 4)))
      .toDF("doc_id", "text")
      .unionByName(Seq((100L, "singleton one has its own words here okay"),
        (101L, "another loner with completely private vocabulary indeed"))
        .toDF("doc_id", "text"))
    val pairs = Multimodal.crossModalPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(4)))
    assert(pairs.exists(_._3 == "consistent") && pairs.length > 100,
      "constructed corpus must have a rich pair list — spec lost its teeth")
    // truth: union-find over the consistent pairs, named by min id
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.filter(_._3 == "consistent").foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = parent.keys.toSeq.map(id => id -> find(id)).toMap
    val rows = graft.Registry.all
      .find(_.name == "q245_crossmodal_dedup_clusters").get
      .fn(spark, {
        val dir = java.nio.file.Files.createTempDirectory("graft_q245").toString
        docs.coalesce(1).write.parquet(dir + "/documents.parquet"); dir
      })
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == truth, "q245 components diverged from the consistent graph's")
    // shingle-less family f3 must never merge: its members are
    // media-only pairs, absent from the consistent graph entirely
    assert(!rows.keySet.exists(id => id % 4 == 3 && id < 48))
  }

  test("q245 clusters only cross-modally CONSISTENT pairs; single-modality evidence never merges") {
    // family {1,2,3}: identical payloads — near-dup in BOTH
    // modalities (consistent) -> one cluster, keeper 1. Docs 10/11:
    // same words REORDERED such that shingles still overlap (text
    // near-dup) but the byte layout shifts the dHash past hamming 3
    // (text_only) -> they must NOT merge. Doc 20: unrelated.
    import spark.implicits._
    val fam = "the quick brown fox jumps over the lazy dog and then " +
      "the small cat runs across the wide field toward the old barn"
    val t10 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    // rotate words: shares most 3-shingles' words -> verify below
    val t11 = "omega alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi"
    val docs = Seq((1L, fam), (2L, fam), (3L, fam), (10L, t10),
      (11L, t11), (20L, "completely different content entirely here now"))
      .toDF("doc_id", "text")
    val pairs = Multimodal.crossModalPairs(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getString(4))).toMap
    assert(pairs((1L, 2L)) == "consistent" && pairs((1L, 3L)) == "consistent"
      && pairs((2L, 3L)) == "consistent")
    val rows = graft.Registry.all
      .find(_.name == "q245_crossmodal_dedup_clusters").get
      .fn(spark, {
        val dir = java.nio.file.Files.createTempDirectory("graft_q245").toString
        docs.coalesce(1).write.parquet(dir + "/documents.parquet"); dir
      })
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(rows.keySet == Set(1L, 2L, 3L),
      s"only the consistent family clusters, got ${rows.keySet}")
    assert(rows(1L) == (1L, true) && rows(2L) == (1L, false)
      && rows(3L) == (1L, false))
    // the 10/11 pair must carry evidence in at most one modality
    pairs.get((10L, 11L)).foreach(v => assert(v != "consistent",
      "reordered-words pair must not be cross-modally consistent"))
  }

  /** Loud/quiet alternating 64-byte frames: every loud frame is an
    * energy peak (both neighbors quieter), so landmark structure is
    * fully controlled. `frames` frames; loud byte `loud`, quiet byte
    * `quiet`, except position overrides in `patch` (frame -> byte). */
  private def framedPayload(frames: Int, loud: Char, quiet: Char,
      patch: Map[Int, Char] = Map.empty): String =
    (0 until frames).map { f =>
      val b = patch.getOrElse(f, if (f % 2 == 1) loud else quiet)
      b.toString * 64
    }.mkString

  test("q235 saturated keys: every query aligns to doc 0 at offset 0") {
    import spark.implicits._
    // 40 docs, all sharing ONE landmark-key set (identical peak
    // structure) but pairwise-distinct energy profiles (each doc
    // patches a different QUIET frame with a unique byte — quiet
    // frames never enter landmark keys, so keys saturate).
    val docs = (0 until 40).map { i =>
      (i.toLong, framedPayload(20, 'z', 'a',
        patch = Map(2 * (i % 10) -> ('a' + 1 + i / 10).toChar)))
    }.toDF("doc_id", "text")
    // every query aligns to corpus doc 0 at offset 0 (all profiles
    // share keys; offset-0 votes dominate; min-id tie-break)
    val full = Multimodal.mediaAlign(docs).collect()
    assert(full.length == 4)
    full.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L,
        s"expected (match 0, offset 0), got $r")
    }
  }

  test("q224: identical payloads hash identically (hamming-0 pair)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different payload bytes with other words entirely zz"))
      .toDF("doc_id", "text")
    val sigs = Multimodal.phash(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("phash")).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L),
      "distinct payloads collided at 28 bits on a 3-doc corpus — suspicious")
  }
}
