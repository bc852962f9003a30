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

  test("q231 maxDf guard drops hot-shingle pairs, keeps rare-shingle pairs") {
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
    val capped = Multimodal.videoNearDup(docs, maxDf = Some(10L))
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    assert(capped == Set((100L, 101L)),
      s"maxDf=10 must keep only the rare pair, got $capped")
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

  test("q224 dup-heavy route expands distinct-signature pairs back to EXACTLY the all-docs list") {
    // replicate the organic corpus 3x with IDENTICAL payloads (ids
    // shifted) — signature dup ratio 3 fires the route
    val base = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val docs = base
      .unionByName(base.select((col("doc_id") + 10000L).as("doc_id"), col("text")))
      .unionByName(base.select((col("doc_id") + 20000L).as("doc_id"), col("text")))
    val out = new java.io.ByteArrayOutputStream()
    val routed = Console.withOut(new java.io.PrintStream(out)) {
      Multimodal.phashNearDup(docs).collect()
    }.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(out.toString.contains("[phash-route]"),
      "signature dup ratio 3 must trigger the distinct-signature route")
    // truth: the FULL all-docs pair list (forced exact) — the r17
    // expansion route must reproduce it bit for bit, including the
    // within-signature hamming-0 pairs the r16 representative route
    // dropped (the r16 ADVICE q224 item)
    val truth = Multimodal.phashNearDup(docs, routeDupRatio = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(truth.nonEmpty, "no pairs — spec lost its teeth")
    assert(truth.exists(_._3 == 0),
      "cloned corpus must contain within-signature hamming-0 pairs")
    assert(routed == truth,
      s"route diverged: missing=${truth -- routed}, extra=${routed -- truth}")
  }

  test("q239/q245 clone routes: pair list and components EXACTLY the unrouted results") {
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
    val out = new java.io.ByteArrayOutputStream()
    val routed = Console.withOut(new java.io.PrintStream(out)) {
      Multimodal.crossModalPairs(docs).collect()
    }.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3),
      r.getString(4))).toSet
    assert(out.toString.contains("[textpairs-route]"),
      "payload dup ratio 8 must trigger the text clone route")
    // truth: both routes forced off
    val truth = {
      val text = graft.pipeline.Dedup.lshVerifiedPairs(docs)
        .select(col("doc_a"), col("doc_b"), col("jacc"))
      val media = Multimodal.phashNearDup(docs, routeDupRatio = Long.MaxValue)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
      text.join(media, Seq("doc_a", "doc_b"), "full_outer")
        .select(col("doc_a"), col("doc_b"),
          coalesce(col("jacc"), lit(-1.0)).as("jacc"),
          coalesce(col("hamming"), lit(-1)).cast("int").as("hamming"),
          when(col("jacc").isNotNull && col("hamming").isNotNull,
            "consistent").when(col("jacc").isNotNull, "text_only")
            .otherwise("media_only").as("verdict"))
    }.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getInt(3), r.getString(4))).toSet
    assert(truth.exists(_._5 == "consistent") && truth.size > 100,
      "constructed corpus must have a rich pair list — spec lost its teeth")
    assert(routed == truth,
      s"clone route diverged: missing=${(truth -- routed).take(5)}, " +
        s"extra=${(routed -- truth).take(5)}")
    // q245's star-edge route: components must equal the full graph's
    def comps(edges: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      graft.graph.Graph.fromEdges(
          edges.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .connectedComponents().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val routedC = Console.withOut(new java.io.PrintStream(
      new java.io.ByteArrayOutputStream())) {
      comps(Multimodal.crossModalCcEdges(docs))
    }
    val truthC = comps(spark.createDataFrame(
      spark.sparkContext.parallelize(truth.filter(_._5 == "consistent")
        .map(t => org.apache.spark.sql.Row(t._1, t._2)).toSeq),
      new org.apache.spark.sql.types.StructType()
        .add("doc_a", "long").add("doc_b", "long")))
    assert(routedC == truthC,
      "star-edge components diverged from the all-pairs graph's")
    // shingle-less family f3 must never merge: its members are
    // media-only pairs, absent from the consistent graph entirely
    assert(!truthC.keySet.exists(id => id % 4 == 3 && id < 48))
  }

  test("q239 output-asymmetry route assembles EXACTLY the full-outer verdict table") {
    // the q224 construct: the organic corpus replicated 3x with
    // identical payloads — signature dup ratio 3, so the asym probe
    // runs; rails forced (media >= 1, text cap high) to fire the
    // shuffle-free assembly
    val base = graft.Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val docs = base
      .unionByName(base.select((col("doc_id") + 10000L).as("doc_id"), col("text")))
      .unionByName(base.select((col("doc_id") + 20000L).as("doc_id"), col("text")))
    def run(asymMedia: Long) = {
      val out = new java.io.ByteArrayOutputStream()
      val r = Console.withOut(new java.io.PrintStream(out)) {
        Multimodal.crossModalPairs(docs, asymMediaPairs = asymMedia,
          asymTextRows = Long.MaxValue).collect()
      }.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3),
        r.getString(4))).toSet
      (r, out.toString)
    }
    val (routed, log) = run(1L)
    assert(log.contains("[xmodal-asym]") && log.contains("shuffle-free"),
      "forced rails must fire the asymmetric assembly")
    val (truth, _) = run(Long.MaxValue)
    assert(truth.count(_._5 == "media_only") > 0
      && truth.count(_._5 == "consistent") > 0,
      "construct must exercise both branches — spec lost its teeth")
    assert(routed == truth,
      s"asym route diverged: missing=${(truth -- routed).take(5)}, " +
        s"extra=${(routed -- truth).take(5)}")
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

  // ---- q235 scale guards (r16 — the r15 verdict's one `weak`) -------

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

  private def enOf(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id"),
      graft.functions.MediaSig.frame_energies(
        encode(col("text"), "UTF-8")).as("en"))

  test("q235 clone route: dup-heavy corpus collapses per side, output EXACTLY the unrouted result") {
    import spark.implicits._
    // 12 clone families × 50 copies = 600 docs, dup ratio 50 — the
    // route fires. Families differ in loud-byte value AND frame count
    // so their landmark keys differ; ids 0..599 spread every family
    // across both sides of the %10 split.
    val base = (0 until 12).map(g =>
      framedPayload(14 + g, ('d' + g).toChar, '2'))
    val docs = (0 until 600).map(i => (i.toLong, base(i % 12)))
      .toDF("doc_id", "text")
    val out = new java.io.ByteArrayOutputStream()
    val routed = Console.withOut(new java.io.PrintStream(out)) {
      Multimodal.mediaAlign(docs).collect()
    }.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out.toString.contains("[align-route]"),
      "dup ratio 50 must trigger the clone-collapse route")
    val truth = Multimodal
      .alignVotes(Multimodal.alignLandmarks(enOf(docs)), None, Long.MaxValue)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(truth.nonEmpty, "constructed corpus produced no alignments — spec lost its teeth")
    assert(routed == truth,
      s"clone route diverged: missing=${truth -- routed}, extra=${routed -- truth}")
  }

  test("q235 vote budget refuses saturated keys, both sides, deterministically") {
    import spark.implicits._
    // 40 docs, all sharing ONE landmark-key set (identical peak
    // structure) but pairwise-distinct energy profiles (each doc
    // patches a different QUIET frame with a unique byte — quiet
    // frames never enter landmark keys, so keys saturate while the
    // clone route stays off).
    val docs = (0 until 40).map { i =>
      (i.toLong, framedPayload(20, 'z', 'a',
        patch = Map(2 * (i % 10) -> ('a' + 1 + i / 10).toChar)))
    }.toDF("doc_id", "text")
    // guards off: every query aligns to corpus doc 0 at offset 0 (all
    // profiles share keys; offset-0 votes dominate; min-id tie-break)
    val full = Multimodal.mediaAlign(docs).collect()
    assert(full.length == 4)
    full.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L,
        s"expected (match 0, offset 0), got $r")
    }
    val fullVotes = full.map(r => r.getLong(3)).max
    // budget 0 FLOORS to the coolest key (r16 ADVICE: a budget below
    // even the coolest key must not silently return an empty table):
    // the coolest key is dt=14, which alone aligns every query
    val out0 = new java.io.ByteArrayOutputStream()
    val floored = Console.withOut(new java.io.PrintStream(out0)) {
      Multimodal.mediaAlign(docs, voteBudget = 0L).collect()
    }
    assert(out0.toString.contains("flooring"),
      "budget below the coolest key must WARN about the floor")
    assert(floored.length == 4,
      "floored run must still align every query on the coolest key")
    floored.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L)
      assert(r.getLong(3) < fullVotes,
        "floored votes must be strictly below the exact run's")
    }
    // middle budget: keys are the peak-pair gaps dt = 2,4,...,14; the
    // key dt carries (18-dt)/2 anchors per doc, so its predicted vote
    // rows are v = (4·a)·(36·a). The coolest key (dt=14, a=2) has
    // v = 8·72 = 576; the next (dt=12, a=3) already cumulates past
    // 600 — budget 600 keeps exactly the dt=14 key, and alignments
    // survive on it with strictly fewer votes than the exact run
    val out = new java.io.ByteArrayOutputStream()
    val capped = Console.withOut(new java.io.PrintStream(out)) {
      Multimodal.mediaAlign(docs, voteBudget = 600L).collect()
    }
    assert(out.toString.contains("[align-budget]"),
      "budget overrun must WARN loudly")
    assert(capped.length == 4, "capped run must still align every query")
    capped.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(2) == 0L)
      assert(r.getLong(3) < fullVotes,
        "capped votes must be strictly below the exact run's")
    }
    // the explicit maxKeyDf dial (df in landmark ROWS, both sides):
    // the hottest key (dt=2, 8 anchors/doc) has df = 40·8 = 320, the
    // coolest (dt=14) df = 40·2 = 80 — cap 320 keeps everything
    // (== exact), cap 79 refuses everything
    val dialAll = Multimodal.mediaAlign(docs, maxKeyDf = Some(320L))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(dialAll == full.map(r => (r.getLong(0), r.getLong(3))).toSet)
    assert(Multimodal.mediaAlign(docs, maxKeyDf = Some(79L))
      .collect().isEmpty)
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
