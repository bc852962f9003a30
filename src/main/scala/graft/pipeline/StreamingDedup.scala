package graft.pipeline

import graft.Tables
import graft.streaming.Drain
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQueryProgress}

/** Dedup-at-ingest over a document STREAM (the streaming sibling of
  * the batch MinHash+LSH pipeline, q52): every arriving document is
  * checked against all PRIOR documents and, if a verified near-dup
  * exists, emits `(doc_id, dup_of = smallest earlier duplicate)`.
  *
  * Shape: per-row minhash banding (pure array expressions — no
  * aggregation, so it runs on an unbounded stream), shuffle on the
  * (band, bucket) key, and a keyed state op holding the bucket's
  * member signatures. A document seals once the watermark passes its
  * event time — every earlier document has then arrived — making the
  * output independent of micro-batch boundaries. State per bucket is
  * its member list: global streaming dedup inherently carries the
  * corpus signature state; `horizonSeconds` bounds it for unbounded
  * streams (members older than the horizon are evicted — safe, since
  * any future row's candidate window `[its ts - horizon, its ts]`
  * lies at or above `watermark - horizon`: rows older than the
  * watermark are dropped as late before reaching the op).
  */
object StreamingDedup {

  /** Watermark-driving sentinel event time (epoch seconds, year 2100).
    * Real ids double as event-time seconds, so they must stay below
    * this; both entry points assert it against the input's max id. */
  private val SentinelSec = 4102444800L

  /** (band, bval) bucket member: micros, doc, SORTED distinct 64-bit
    * shingle hashes (hashed grams, not the strings — q54's argument:
    * state shrinks ~8× and collisions at 2^-64 are negligible). */
  private type Member = (Long, Long, Seq[Long], Boolean) // (tsUs, docId, shingleHashes, emitted)

  private def jaccard(a: Seq[Long], b: Seq[Long]): Double = {
    var i = 0; var j = 0; var common = 0
    while (i < a.length && j < b.length) {
      val c = java.lang.Long.compare(a(i), b(j))
      if (c == 0) { common += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    common.toDouble / (a.length + b.length - common)
  }

  /** Sealed-member horizon eviction + wakeup, shared by both state
    * ops. Members still pending keep the earliest wakeup at their own
    * seal time; with a horizon, an all-emitted (quiescent) bucket arms
    * a wakeup at its oldest member's eviction time instead — without
    * it a bucket that stops receiving data would never re-fire and its
    * state would never age out. Returns the members to keep. */
  private def evictAndArm[M](state: GroupState[Seq[M]], updated: Seq[M],
      horizonSeconds: Option[Long])(tsUs: M => Long, emitted: M => Boolean): Unit = {
    val wmMs = state.getCurrentWatermarkMs()
    val kept = horizonSeconds match {
      case Some(h) => updated.filter(m => !emitted(m) || tsUs(m) >= (wmMs - h * 1000L) * 1000L)
      case None => updated
    }
    if (kept.isEmpty) state.remove() else state.update(kept)
    val pending = kept.filter(m => !emitted(m))
    if (pending.nonEmpty)
      state.setTimeoutTimestamp(math.max(pending.map(tsUs(_) / 1000L + 1).min, wmMs + 1))
    else if (kept.nonEmpty && horizonSeconds.isDefined)
      state.setTimeoutTimestamp(math.max(
        kept.map(tsUs(_) / 1000L).min + horizonSeconds.get * 1000L + 1, wmMs + 1))
  }

  /** @param horizonSeconds dedup horizon: members sealed longer ago
    *   than this are evicted and can no longer match future arrivals —
    *   the windowed-recall trade-off that bounds state for unbounded
    *   streams (None = global dedup, state grows with the corpus).
    * @return `(doc_id, dup_of)` and the stream's final progress, as do
    *   [[phashDedup]] and [[embeddingNearDup]] (see [[minOverBuckets]]). */
  def minhashDedup(s: SparkSession, dir: String, threshold: Double = 0.1,
      horizonSeconds: Option[Long] = None): (DataFrame, Option[StreamingQueryProgress]) = {
    import s.implicits._

    val batch = Tables.t(s, dir, "documents")
    // ids double as event-time seconds: a doc_id at or past the
    // sentinel would stall sealing (the sentinel is no longer the max
    // timestamp) — fail loudly instead. Parquet min/max stats make
    // this a metadata-priced batch scan.
    val maxId = batch.agg(max(col("doc_id").cast("long"))).head.getLong(0)
    require(maxId + 1 < SentinelSec,
      s"doc_id $maxId reaches the watermark sentinel epoch $SentinelSec")
    implicit val sq = s.sqlContext
    // far-future sentinel that drives the watermark past the last real
    // document so it seals too. The sentinel must SURVIVE every filter
    // below the watermark node: Catalyst pushes deterministic filters
    // through the union+watermark down to the sources, and a filtered
    // sentinel never registers its event time — the watermark then
    // stalls at the last real row (exactly the bug this row exists to
    // prevent). It therefore carries 3 words (passes the shingle-length
    // filter) of a reserved token, lives in its own bucket, and — being
    // the stream's maximum timestamp — never seals and is never an
    // "earlier" candidate for anyone.
    val sentinel = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    sentinel.addData((SentinelSec, "zsentinela zsentinelb zsentinelc"))
    val fileDocs = Tables.stream(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val docs = fileDocs
      .unionByName(sentinel.toDF().toDF("doc_id", "text"))
      // synthetic arrival time: one doc per second in doc_id order,
      // shifted +1s — a ts equal to the INITIAL watermark (epoch 0)
      // is dropped as late before ever reaching the state op
      .withColumn("ts", expr("timestamp_seconds(doc_id + 1)"))
      .withWatermark("ts", "0 seconds")

    // per-row signature: band b's minhash = min over shingles of hex
    // slice [8b+1, 8b+8] of ONE precomputed md5 digest per shingle
    // (all four bands from one hash — the batch q51/q52 slice
    // scheme) — array expressions only, streaming-safe
    def bandMin(b: Int) = expr(
      s"""array_min(transform(digests,
         |  d -> CAST(conv(substring(d, ${8 * b + 1}, 8), 16, 10) AS BIGINT)))"""
        .stripMargin)

    val banded = docs
      .withColumn("w", split(lower(col("text")), " "))
      .filter(size(col("w")) >= 3)
      .withColumn("shingles", expr(
        """array_sort(array_distinct(transform(sequence(0, size(w)-3),
          |  i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))))""".stripMargin))
      // state carries 64-bit shingle hashes, not the strings
      .withColumn("hs", expr("array_sort(transform(shingles, x -> xxhash64(x)))"))
      .withColumn("digests", expr("transform(shingles, x -> md5(x))"))
      .select(col("ts"), unix_micros(col("ts")).as("tsUs"),
        col("doc_id"), col("hs"),
        posexplode(array((0 to 3).map(bandMin): _*)).as(Seq("band", "bval")))
      .select(col("band"), col("bval"), col("ts"), col("tsUs"),
        col("doc_id"), col("hs"))
      .as[(Int, Long, java.sql.Timestamp, Long, Long, Seq[Long])]

    implicit val stEnc = org.apache.spark.sql.Encoders.kryo[Seq[Member]]
    val pairs = banded
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: (Int, Long), it: Iterator[(Int, Long, java.sql.Timestamp, Long, Long, Seq[Long])],
            state: GroupState[Seq[Member]]) => {
          val members = (state.getOption.getOrElse(Seq.empty) ++
            it.map(r => (r._4, r._5, r._6, false)))
            .sortBy(m => (m._1, m._2)).toIndexedSeq
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          // horizon candidates are a CONTIGUOUS window of the sorted
          // buffer, and its lower bound only moves forward as ts
          // grows — a running pointer makes the scan linear in
          // (members × window), not quadratic in the batch (the 100×
          // probe's failure shape for population-heavy buckets)
          var lo = 0
          val updated = members.zipWithIndex.map { case (m @ (ts, doc, sh, emitted), i) =>
            if (emitted || ts >= wmUs) m
            else {
              // all earlier members are present (watermark-sealed):
              // the smallest earlier verified duplicate in this bucket
              // within the horizon of THIS doc's own timestamp (the
              // batching-independent form of the windowed trade-off;
              // state eviction in evictAndArm is its corollary)
              horizonSeconds.foreach { h =>
                val minTs = ts - h * 1000000L
                while (lo < i && members(lo)._1 < minTs) lo += 1
              }
              // members sort ascending (ts, doc) and ts is monotone in
              // doc, so the FIRST match is the smallest earlier dup —
              // find() early-exits where the old filter+minOption
              // walked the whole window (Θ(width²) per dup-heavy
              // bucket; r15 — replica corpora put ~replica-count
              // members in one bucket and the base doc sits early)
              val dup = members.iterator.slice(
                  if (horizonSeconds.isDefined) lo else 0, i)
                .find(e => jaccard(e._3, sh) >= threshold)
                .map(_._2)
              dup.foreach(d => out += ((doc, d)))
              (ts, doc, sh, true)
            }
          }
          evictAndArm(state, updated, horizonSeconds)(_._1, _._4)
          out.iterator
        })
      .toDF("doc_id", "dup_of_bucket")

    // one doc can match in several buckets → min over buckets
    minOverBuckets(pairs, "doc_id", "graft_stream_dedup")
  }

  /** Perceptual-hash dedup at ingest — the MULTIMODAL sibling of
    * [[minhashDedup]] (q229), completing the at-ingest story for the
    * q224/q225 family: payloads arrive one per second (doc_id order),
    * each computes its 28-bit integer dHash inside the codegen'd
    * [[graft.functions.MediaSig.DHashSig]] expression (per-row, no
    * aggregation — streaming-safe by construction), fans out to the
    * q224 pigeonhole blocks (4 × 7-bit), and each sealed doc flags
    * the smallest EARLIER doc within hamming ≤ maxHamming. Blocking
    * is EXACT at maxHamming ≤ 3: any such pair shares at least one
    * of the 4 blocks, so the verdict equals the all-pairs truth (the
    * q224 argument, now applied to state-bucket membership). Same
    * watermark-sealing determinism as the text side: output is
    * independent of micro-batch boundaries; state per (block, bucket)
    * is the member signature list — 16 bytes a member, bounded by
    * `horizonSeconds` for unbounded streams. */
  def phashDedup(s: SparkSession, dir: String, maxHamming: Int = 3,
      horizonSeconds: Option[Long] = None): (DataFrame, Option[StreamingQueryProgress]) = {
    import s.implicits._
    require(maxHamming <= 3,
      s"4-block pigeonhole is exact only to hamming 3, got $maxHamming")
    val batch = Tables.t(s, dir, "documents")
    val maxId = batch.agg(max(col("doc_id").cast("long"))).head.getLong(0)
    require(maxId + 1 < SentinelSec,
      s"doc_id $maxId reaches the watermark sentinel epoch $SentinelSec")
    implicit val sq = s.sqlContext
    // same survival rule as minhashDedup's sentinel; no filter exists
    // below the watermark node here, and as the stream's maximum
    // timestamp the sentinel never seals nor serves as a candidate
    val sentinel = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    sentinel.addData((SentinelSec, "zsentinel"))
    val fileDocs = Tables.stream(s, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val docs = fileDocs
      .unionByName(sentinel.toDF().toDF("doc_id", "text"))
      .withColumn("ts", expr("timestamp_seconds(doc_id + 1)"))
      .withWatermark("ts", "0 seconds")
      .withColumn("phash", graft.functions.MediaSig.dhash_sig(
        encode(col("text"), "UTF-8")))

    val banded = docs
      .select(col("ts"), unix_micros(col("ts")).as("tsUs"),
        col("doc_id"), col("phash"),
        posexplode(array((0 to 3).map(j =>
          expr(s"shiftright(phash, ${7 * j}) & 127")): _*))
          .as(Seq("blk", "bkt")))
      .select(col("blk"), col("bkt"), col("ts"), col("tsUs"),
        col("doc_id"), col("phash"))
      .as[(Int, Long, java.sql.Timestamp, Long, Long, Long)]

    type PMember = (Long, Long, Long, Boolean) // (tsUs, docId, phash, emitted)
    implicit val stEnc = org.apache.spark.sql.Encoders.kryo[Seq[PMember]]
    val pairs = banded
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: (Int, Long), it: Iterator[(Int, Long, java.sql.Timestamp, Long, Long, Long)],
            state: GroupState[Seq[PMember]]) => {
          val members = (state.getOption.getOrElse(Seq.empty) ++
            it.map(r => (r._4, r._5, r._6, false)))
            .sortBy(m => (m._1, m._2)).toIndexedSeq
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          // running horizon lower bound — see minhashDedup
          var lo = 0
          val updated = members.zipWithIndex.map { case (m @ (ts, doc, h, emitted), i) =>
            if (emitted || ts >= wmUs) m
            else {
              horizonSeconds.foreach { hz =>
                val minTs = ts - hz * 1000000L
                while (lo < i && members(lo)._1 < minTs) lo += 1
              }
              // first match = smallest earlier dup (sorted members,
              // ts monotone in doc) — see minhashDedup
              val dup = members.iterator.slice(
                  if (horizonSeconds.isDefined) lo else 0, i)
                .find(e => java.lang.Long.bitCount(e._3 ^ h) <= maxHamming)
                .map(_._2)
              dup.foreach(d => out += ((doc, d)))
              (ts, doc, h, true)
            }
          }
          evictAndArm(state, updated, horizonSeconds)(_._1, _._4)
          out.iterator
        })
      .toDF("doc_id", "dup_of_bucket")

    // a pair within hamming ≤ 3 can share up to 4 blocks → min over
    // buckets
    minOverBuckets(pairs, "doc_id", "graft_stream_phash_dedup")
  }

  /** Streaming embedding near-dup at ingest — the cosine sibling of
    * [[minhashDedup]]: vectors arrive one per second (vec_id order),
    * block either by the stored coarse bucket (`label`) or — the
    * shape that survives skewed labels — by random-hyperplane LSH
    * sign buckets (`signTables` tables of `signBits` hyperplanes
    * each; a pair is a candidate if it collides in ANY table, the
    * same OR-amplification as minhash banding). Each sealed vector
    * flags the smallest earlier candidate with cosine ≥ threshold.
    * Same watermark-sealing determinism argument; state per block is
    * its member vectors with precomputed norms, bounded by
    * `horizonSeconds` exactly like the text side.
    *
    * The hyperplanes are deterministic (component sign = parity of
    * the first md5 hex digit of "j:i"), so a SQL oracle can replay
    * bucket assignment; dots are rounded to 6 dp before the sign
    * test so fp summation order cannot flip a bucket bit. */
  def embeddingNearDup(s: SparkSession, dir: String, threshold: Double = 0.25,
      horizonSeconds: Option[Long] = None,
      signTables: Int = 0, signBits: Int = 2): (DataFrame, Option[StreamingQueryProgress]) = {
    import s.implicits._
    val batch = Tables.t(s, dir, "embeddings")
    val firstRow = batch.agg(max(col("vec_id").cast("long")).as("m"),
      max(size(col("embedding"))).as("d")).head
    val maxId = firstRow.getLong(0)
    val dim = firstRow.getInt(1) // corpus embedding dimension
    require(maxId + 1 < SentinelSec,
      s"vec_id $maxId reaches the watermark sentinel epoch $SentinelSec")
    implicit val sq = s.sqlContext
    // same survival rule as [[minhashDedup]]'s sentinel: no filter may
    // drop it below the watermark node. Label -1 gives it a bucket of
    // its own under label blocking; under sign blocking it may share a
    // bucket, which is still safe — as the max-timestamp row it never
    // seals nor serves as an earlier candidate, so the short vector is
    // never compared.
    val sentinel = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Int, Seq[Float])]
    // full-dim dummy vector: the fused vec_dot (unlike the old
    // null-padding composite) requires length parity for the bucket
    // projection; which bucket the sentinel lands in stays irrelevant
    sentinel.addData((SentinelSec, -1, Seq.fill(dim)(1.0f)))
    val fileVecs = Tables.stream(s, dir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"),
        col("label").cast("int").as("label"), col("embedding"))
    val vecs0 = fileVecs
      .unionByName(sentinel.toDF().toDF("vec_id", "label", "embedding"))
      .withColumn("ts", expr("timestamp_seconds(vec_id + 1)"))
      .withWatermark("ts", "0 seconds")

    // hyperplane j's component for dim i is ±1 by md5 parity; the
    // bucket of table t packs signBits rounded-dot signs into an int.
    // The hyperplane is DATA-INDEPENDENT, so it is computed once on
    // the driver (same md5, bit-identical signs — the oracle replays
    // the same parity in SQL) and shipped as a literal array: the
    // former inline expression re-ran dim×signTables×signBits md5
    // digests per ROW. The dot itself is the fused zero-alloc
    // VecMath fold. Streaming-safe, per-row, oracle-replayable.
    def hyperplane(j: Int): Seq[Double] = (0 until dim).map { i =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$j:$i".getBytes("UTF-8"))
      if (((d(0) >> 4) & 1) == 0) 1.0 else -1.0 // first hex digit even
    }
    def signBit(j: Int): Column = when(
      round(graft.functions.VecMath.vec_dot(col("embedding"),
        typedlit(hyperplane(j))), 6) >= 0, 1)
      .otherwise(0)
    def bucketFor(t: Int): Column =
      (0 until signBits).map(b => signBit(t * signBits + b) * lit(1 << b))
        .reduce(_ + _)

    val vecs =
      (if (signTables == 0)
        vecs0.select(lit(0).as("tbl"), col("label").as("bucket"), col("ts"),
          unix_micros(col("ts")).as("tsUs"), col("vec_id"), col("embedding"))
      else
        vecs0.select(col("ts"), unix_micros(col("ts")).as("tsUs"),
          col("vec_id"), col("embedding"),
          posexplode(array((0 until signTables).map(bucketFor): _*))
            .as(Seq("tbl", "bucket")))
          .select(col("tbl"), col("bucket"), col("ts"), col("tsUs"),
            col("vec_id"), col("embedding")))
        .as[(Int, Int, java.sql.Timestamp, Long, Long, Seq[Float])]

    type VMember = (Long, Long, Array[Double], Double, Boolean) // (tsUs, id, vec, norm, emitted)
    implicit val stEnc = org.apache.spark.sql.Encoders.kryo[Seq[VMember]]
    val pairs = vecs.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: (Int, Int), it: Iterator[(Int, Int, java.sql.Timestamp, Long, Long, Seq[Float])],
            state: GroupState[Seq[VMember]]) => {
          val members = (state.getOption.getOrElse(Seq.empty) ++
            it.map { r =>
              val v = r._6.map(_.toDouble).toArray
              (r._4, r._5, v, math.sqrt(v.map(x => x * x).sum), false)
            }).sortBy(m => (m._1, m._2)).toIndexedSeq
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          // running horizon lower bound — see minhashDedup: turns the
          // per-member candidate scan from O(batch) into O(window),
          // which is what keeps population-heavy sign buckets (few
          // geometry-fixed keys) linear in the corpus
          var lo = 0
          val updated = members.zipWithIndex.map { case (m @ (ts, id, v, nrm, emitted), i) =>
            if (emitted || ts >= wmUs) m
            else {
              horizonSeconds.foreach { h =>
                val minTs = ts - h * 1000000L
                while (lo < i && members(lo)._1 < minTs) lo += 1
              }
              // first match = smallest earlier dup (sorted members,
              // ts monotone in id) — see minhashDedup
              val dup = members.iterator.slice(
                  if (horizonSeconds.isDefined) lo else 0, i)
                .find { e =>
                  var dot = 0.0
                  var k = 0
                  while (k < v.length) { dot += v(k) * e._3(k); k += 1 }
                  // same rounded-score comparison as the batch q96 oracle
                  BigDecimal(dot / (nrm * e._4))
                    .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble >= threshold
                }.map(_._2)
              dup.foreach(d => out += ((id, d)))
              (ts, id, v, nrm, true)
            }
          }
          evictAndArm(state, updated, horizonSeconds)(_._1, _._5)
          out.iterator
        })
      .toDF("vec_id", "dup_of_bucket")

    // a vector can collide with its duplicate in several tables →
    // min across buckets (a no-op under label blocking, where every
    // vector lives in exactly one bucket)
    minOverBuckets(pairs, "vec_id", "graft_stream_vec_dedup")
  }

  /** Drain the `(id, dup_of_bucket)` pair stream into the memory sink
    * `qname` and reduce to the smallest duplicate per id. The stream
    * has completed by then, so the reduction is a plain batch
    * aggregate. Returns it with the final progress, whose state rows
    * (= live bucket groups) show whether horizon eviction removes
    * quiescent buckets. */
  private def minOverBuckets(pairs: DataFrame, id: String,
      qname: String): (DataFrame, Option[StreamingQueryProgress]) = {
    val (sink, progress) = Drain.toMemory(pairs, qname, "append")
    (sink.groupBy(col(id)).agg(min(col("dup_of_bucket")).as("dup_of"))
      .orderBy(col(id)), progress)
  }
}
