package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted standing-index facade for incremental dedup — the
  * production surface q166's scaladoc promised: a daily-ingest
  * pipeline computes the corpus's LSH band table and shingle table
  * ONCE at corpus build, persists them, appends each committed
  * delta, and scores every new delta against the stored index —
  * the corpus's shingle+minhash work (the dominant cost of the
  * recompute path) is never repaid.
  *
  * Layout under `path`:
  *  - `bands/`    (doc_id, band, bval)  partitioned by pb = bval % bandBuckets
  *  - `shingles/` (doc_id, shingles)    partitioned by pd = doc_id % docBuckets
  *  - `index_meta.properties`           the fan-outs, written by [[save]]
  *
  * The partition columns are the scale story: [[dedupDelta]] joins
  * the (broadcast-sized) delta bands against the index INCLUDING
  * `pb`, so Spark's dynamic partition pruning restricts the index
  * scan to the band buckets the delta actually touches; likewise the
  * shingle verification joins on (doc_o, pd), pruning to the
  * partitions holding the candidates' shingle rows. Per-delta cost
  * is then the delta's own compute plus a pruned index probe — at a
  * fixed bucket count the pruning factor shrinks as deltas shrink
  * relative to the corpus, and at 100 TB the bucket counts are the
  * dial: [[save]] takes them as parameters and persists them in the
  * index's metadata file, which [[update]]/[[dedupDelta]] read back,
  * so the probe's delta-side bucket computation always agrees with
  * the layout on disk (an index without metadata fails loudly).
  * Appends ([[update]]) are new files in existing partitions — no
  * index rewrite, no shuffle of the standing corpus, ever.
  *
  * Reference behavior: linweijiang/Flink-1.8-SourceCode has no dedup
  * index; this extends the training-data-pipeline family (SURVEY §2
  * LLM-ops) the same way production systems do.
  */
object DedupIndex {

  /** Default band-bucket partition fan-out. 256 keeps sandbox file
    * counts sane; at corpus scale raise it (pruning ratio ≈
    * touched/total — a D-band-row delta touches ≤ D buckets, so pick
    * bandBuckets ≫ delta band rows to make the probe scan track the
    * delta's footprint instead of the corpus). */
  private[graft] val bandBuckets = 256
  /** Default shingle-table partition fan-out on doc_id. */
  private[graft] val docBuckets = 64

  /** Index-layout metadata, persisted by [[save]] and read back by
    * every consumer — the fan-outs are a property OF THE INDEX, not
    * of the code that happens to probe it.
    *
    * `shingleLayout`: "pd" (default — shingles partitioned by
    * doc_id % docBuckets) or "pb" (r12 — COLOCATED with the band
    * index: each doc's shingle row is stored once under every band
    * bucket its bands hash to, ≤ 4 copies). The r11 fan-out probe's
    * honest negative was that pd pruning never bites — candidate
    * owners spread over the whole id space, so the verification scan
    * reads every doc bucket regardless of fan-out. Under "pb" the
    * verification join carries the candidate's MATCHED band bucket,
    * and dynamic partition pruning restricts the shingle scan to the
    * delta's own band footprint — the same 2-3 % the band side
    * already achieves — at a ≤ 4× shingle storage cost (the classic
    * payload-colocation trade).
    *
    * `shingleGroups` (r13, the pb file-compaction dial): the pb
    * shingle table physically partitions on pb % shingleGroups
    * instead of pb, so `shingleGroups` directories hold ~one file
    * each of bandBuckets/shingleGroups buckets' rows — the knob that
    * reconciles the sandbox wall (8192 KB-sized files paid per-file
    * open costs that erased the 2.4 %-partition-read win, PLANS.md
    * r12) with the 100 TB metric (where buckets are GB-sized and the
    * default, shingleGroups = bandBuckets, keeps full pruning
    * granularity). Pruning under a coarser grouping reads
    * min(1, footprint-in-groups/shingleGroups) of the table; the
    * verification join itself stays exact — grouping only widens the
    * scan, never the candidate set. Ignored by "pd". */
  final case class Meta(bandBuckets: Int, docBuckets: Int,
      shingleLayout: String = "pd", shingleGroups: Int = 0) {
    /** Effective grouping: 0 (the default, and every pre-r13 index)
      * means one directory per band bucket — the ungrouped layout. */
    def effShingleGroups: Int =
      if (shingleGroups <= 0) bandBuckets else shingleGroups
  }

  // Metadata rides Hadoop's FileSystem API, NOT java.nio: the index
  // data goes through Spark's Hadoop writer, so an hdfs://, s3a://
  // (or any URI-qualified) index path must resolve the same way for
  // its sidecar files — java.nio would treat the URI as a local
  // relative path, stranding the metadata (r11 self-review finding).
  private def sidecar(path: String, name: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path, name)
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    (p.getFileSystem(conf), p)
  }

  private[pipeline] def storeProps(path: String, name: String,
      kv: Map[String, String], comment: String): Unit = {
    val (fs, p) = sidecar(path, name)
    val props = new java.util.Properties()
    kv.foreach { case (k, v) => props.setProperty(k, v) }
    val out = fs.create(p, true)
    try props.store(out, comment) finally out.close()
  }

  private[pipeline] def loadProps(path: String, name: String)
      : Option[java.util.Properties] = {
    val (fs, p) = sidecar(path, name)
    if (!fs.exists(p)) None
    else {
      val props = new java.util.Properties()
      val in = fs.open(p)
      try props.load(in) finally in.close()
      Some(props)
    }
  }

  private def writeMeta(path: String, m: Meta): Unit =
    storeProps(path, "index_meta.properties",
      Map("bandBuckets" -> m.bandBuckets.toString,
        "docBuckets" -> m.docBuckets.toString,
        "shingleLayout" -> m.shingleLayout,
        "shingleGroups" -> m.shingleGroups.toString),
      "graft DedupIndex layout — fan-outs are load-bearing")

  /** Load the index's persisted layout; loud failure if absent — a
    * probe guessing fan-outs that disagree with the files on disk
    * would silently break partition pruning (and with it the
    * per-delta cost contract), so there is no fallback. Indexes
    * written before the shingleLayout key read as "pd" (the layout
    * they were written with). */
  def meta(path: String): Meta =
    loadProps(path, "index_meta.properties") match {
      case Some(p) =>
        Meta(p.getProperty("bandBuckets").toInt,
          p.getProperty("docBuckets").toInt,
          Option(p.getProperty("shingleLayout")).getOrElse("pd"),
          // pre-r13 indexes carry no grouping key: ungrouped (0)
          Option(p.getProperty("shingleGroups")).map(_.toInt).getOrElse(0))
      case None => throw new IllegalStateException(
        s"$path/index_meta.properties missing: not a DedupIndex (or " +
          "written by a pre-metadata version); rebuild with DedupIndex.save")
    }

  /** The three tables' schemas, partition column last, as Spark infers
    * them from a saved index ([[save]] and [[update]] write exactly
    * these; [[open]] reads with them, so opening an index runs no
    * footer-reading job). */
  private[pipeline] val bandsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("band", IntegerType),
    StructField("bval", LongType), StructField("pb", IntegerType)))
  private[pipeline] val bucketStatsSchema = StructType(Seq(
    StructField("band", IntegerType), StructField("bval", LongType),
    StructField("n", LongType)))
  /** `shingleLayout` names the partition column: "pd" or "pb". */
  private[pipeline] def shinglesSchema(shingleLayout: String): StructType = {
    if (shingleLayout != "pd" && shingleLayout != "pb")
      throw new IllegalStateException(
        s"unknown shingleLayout '$shingleLayout' in index metadata")
    StructType(Seq(StructField("doc_id", LongType),
      StructField("shingles", ArrayType(StringType)),
      StructField(shingleLayout, IntegerType)))
  }

  /** `df`'s columns in `schema`'s order, cast to its types. */
  private def conform(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)

  /** (doc_id, band, bval) — one row per LSH band of each document. */
  private[pipeline] def bandRows(docs: DataFrame): DataFrame =
    Dedup.minhashSignatures(docs)
      .select(col("doc_id"),
        posexplode(array(col("m0"), col("m1"), col("m2"), col("m3")))
          .as(Seq("band", "bval")))

  /** (doc_id, shingles) — the exact-verification payload. */
  private[pipeline] def shingleRows(docs: DataFrame): DataFrame =
    docs.withColumn("w", split(lower(col("text")), " "))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), expr(Dedup.sparkShingles).as("shingles"))

  /** Build (or rebuild) the standing index from a corpus. Alongside
    * bands and shingles it persists `bucket_stats` — per-(band, bval)
    * member counts, APPENDED on every update and summed at read, so
    * bucket widths are known without ever rescanning the corpus. */
  /** The shingle table under a given layout (see [[Meta]]): "pd"
    * keys each doc's single row by doc_id % docBuckets; "pb"
    * colocates the row with the band index — one copy under every
    * DISTINCT band bucket of the doc's bands (≤ 4). */
  private def shingleTable(delta: DataFrame, bands: DataFrame,
      m: Meta): DataFrame = m.shingleLayout match {
    case "pd" =>
      shingleRows(delta)
        .withColumn("pd", pmod(col("doc_id"), lit(m.docBuckets)))
    case "pb" =>
      // the stored pb is the GROUPED bucket (pb % shingleGroups) —
      // distinct AFTER grouping, so two band buckets of one doc that
      // fall in the same group store one copy, not two
      shingleRows(delta).join(
        bands.select(col("doc_id"),
          pmod(pmod(col("bval"), lit(m.bandBuckets)),
            lit(m.effShingleGroups)).as("pb")).distinct(),
        "doc_id")
    case other => throw new IllegalStateException(
      s"unknown shingleLayout '$other' in index metadata")
  }

  /** @param shingleGroups pb-layout file-compaction dial (see
    *   [[Meta]]); 0 = one directory per band bucket.
    * @param bandBuckets / docBuckets index fan-outs; 0 (the default)
    *   derives them from the corpus size — r17 OPT (guide §2,
    *   scale-adaptive partitioning): the pre-r17 fixed 256/64 was a
    *   constant tuned for neither regime — a sandbox-scale corpus
    *   paid 320 partition-directory writes (and each probe their
    *   listings) for buckets holding ~17 docs, while a 100 TB corpus
    *   would arguably want MORE than 256. Auto targets ~1000 docs per
    *   band bucket / ~4000 per doc bucket, clamped to [8, 4096] and
    *   [8, 1024]; the fan-out persists in the index metadata, so
    *   probes and updates of an existing index are unaffected, and
    *   verdicts are fan-out-independent by construction (pmod
    *   bucketing only places rows; DedupIndexSpec pins
    *   update ≡ rebuild and dedupDelta ≡ q166 at any fan-out). */
  def save(corpus: DataFrame, path: String,
      bandBuckets: Int = 0,
      docBuckets: Int = 0,
      shingleLayout: String = "pd",
      shingleGroups: Int = 0): Unit = {
    require(bandBuckets >= 0 && docBuckets >= 0,
      "fan-outs must be non-negative (0 = auto)")
    val (bb, db) =
      if (bandBuckets > 0 && docBuckets > 0) (bandBuckets, docBuckets)
      else {
        val n = corpus.count()
        val abb = math.min(4096L, math.max(8L, n / 1000)).toInt
        val adb = math.min(1024L, math.max(8L, n / 4000)).toInt
        val chosen = Seq(
          if (bandBuckets > 0) None else Some(s"bandBuckets=$abb"),
          if (docBuckets > 0) None else Some(s"docBuckets=$adb")).flatten
        println(s"[dedup-index] auto fan-out: $n corpus docs -> " +
          chosen.mkString(" "))
        (if (bandBuckets > 0) bandBuckets else abb,
          if (docBuckets > 0) docBuckets else adb)
      }
    require(shingleGroups <= bb,
      "shingleGroups coarsens band buckets — more groups than buckets is a typo")
    val m = Meta(bb, db, shingleLayout, shingleGroups)
    write(corpus, m, path, "overwrite")
    writeMeta(path, m)
  }

  /** Append a COMMITTED delta to the index (after its dedup verdict
    * admitted it): new files in existing partitions, nothing about
    * the standing corpus is read or rewritten — including the bucket
    * stats, whose per-append partial counts are additive. */
  def update(delta: DataFrame, path: String): Unit =
    write(delta, meta(path), path, "append")

  /** The three writes of [[save]] ("overwrite") and [[update]]
    * ("append"), each in its declared schema.
    *
    * Repartition ON the partition column before partitionBy: without
    * it every write task emits one file per bucket value it holds
    * (tasks × buckets small files — at a raised fan-out that is a
    * file-count explosion); with it each bucket's rows land in one
    * task, so the index is ~one file per bucket.
    *
    * r17 OPT (guide §1.2/§2.4 — don't compute things twice): the band
    * table feeds THREE consumers below (bands write, bucket_stats,
    * and the pb shingle layout); each previously replayed the full
    * shingle + md5 + min-signature pass over the docs. One
    * localCheckpoint materializes it once — the checkpointed table is
    * 4 small rows per doc, orders of magnitude lighter than the
    * scan it replaces. */
  private def write(docs: DataFrame, m: Meta, path: String,
      mode: String): Unit = {
    val bands = bandRows(docs).localCheckpoint()
    conform(bands.withColumn("pb", pmod(col("bval"), lit(m.bandBuckets))),
      bandsSchema)
      .repartition(col("pb"))
      .write.mode(mode).partitionBy("pb").parquet(s"$path/bands")
    conform(bands.groupBy(col("band"), col("bval")).agg(count(lit(1)).as("n")),
      bucketStatsSchema)
      .write.mode(mode).parquet(s"$path/bucket_stats")
    val sh = conform(shingleTable(docs, bands, m), shinglesSchema(m.shingleLayout))
    sh.repartition(col(m.shingleLayout))
      .write.mode(mode).partitionBy(m.shingleLayout).parquet(s"$path/shingles")
  }

  /** Score a delta against the stored index: same (doc_id, n_dups,
    * keeper, is_new) verdict as q166's recompute path, hash-equal by
    * construction (DedupIndexSpec pins it, q176's oracle re-proves it
    * every sweep).
    *
    * @param maxBucketWidth the 100 TB safety valve lshVerifiedPairs
    *   carries, now index-aware: candidate generation skips index
    *   buckets wider than this (boilerplate buckets make delta ×
    *   bucket candidate counts explode). The width test reads the
    *   PRECOMPUTED `bucket_stats` (summed over appends — one tiny
    *   agg over (band, bval) counts, never a corpus rescan), and the
    *   over-wide bucket list — boilerplate by definition, so small —
    *   broadcasts into an anti-join on the DELTA bands, pruning at
    *   the cheapest point in the plan. Default keeps exact
    *   semantics. */
  def dedupDelta(s: SparkSession, delta: DataFrame, path: String,
      maxBucketWidth: Int = Int.MaxValue): DataFrame =
    dedupDelta(open(s, path), delta, maxBucketWidth)

  /** The index's session handle (r18 OPT, guide §6 — file listing):
    * metadata + the band/shingle/bucket-stats frames resolved ONCE.
    * A probe loop (q185/ingestEos score every micro-batch against the
    * FROZEN standing index) previously called `spark.read.parquet` per
    * batch, re-listing the index's partition directories every
    * trigger — a per-batch O(dirs) floor that grows with the adaptive
    * fan-out. The handle's frames snapshot the file listing at open;
    * that is exactly the ingest contract (the index is frozen while a
    * stream scores against it — appends happen at day close, after
    * the stream stops), and the handle lives inside one query
    * invocation, so nothing caches across runs. */
  final class Opened private[DedupIndex] (val m: Meta,
      private[pipeline] val bands: DataFrame,
      private[pipeline] val shingles: DataFrame,
      private[pipeline] val bucketStats: DataFrame)

  def open(s: SparkSession, path: String): Opened = {
    val m = meta(path)
    new Opened(m,
      s.read.schema(bandsSchema).parquet(s"$path/bands"),
      s.read.schema(shinglesSchema(m.shingleLayout)).parquet(s"$path/shingles"),
      s.read.schema(bucketStatsSchema).parquet(s"$path/bucket_stats"))
  }

  def dedupDelta(idx: Opened, delta: DataFrame,
      maxBucketWidth: Int): DataFrame = {
    val deltaPruned =
      if (maxBucketWidth == Int.MaxValue) delta -> None
      else {
        val wide = idx.bucketStats
          .groupBy(col("band"), col("bval"))
          .agg(sum(col("n")).as("w"))
          .filter(col("w") > maxBucketWidth)
          .select(col("band"), col("bval"))
        delta -> Some(broadcast(wide))
      }
    Dedup.incrementalDedup(deltaPruned._1,
      idx.bands,
      idx.shingles,
      wideBuckets = deltaPruned._2,
      bandBuckets = idx.m.bandBuckets, docBuckets = idx.m.docBuckets,
      shingleGroups = idx.m.effShingleGroups)
  }

  /** The q185 ingest loop with CRASH-SAFE delivery — the composition
    * q185's scaladoc promised, now real: each micro-batch's verdict
    * rows AND its admitted docs commit through
    * [[graft.streaming.ExactlyOnceJdbc.commitBatch]] (batchId-scrubbed
    * idempotent epoch writes), so a foreachBatch replay after a crash
    * — even one that died mid-append — lands every verdict and every
    * admitted doc exactly once. The day-close index commit
    * ([[commitAdmitted]]) then reads the admitted docs back from the
    * store, making the whole loop recoverable from (checkpoint +
    * database + index) alone. Crash/replay schedule proven in
    * IngestLoopEosSpec against embedded Derby. */
  def ingestEos(s: SparkSession, delta: DataFrame, path: String,
      url: String, verdictTable: String, admittedTable: String,
      checkpointDir: String, props: java.util.Properties)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // r18 OPT: list/resolve the frozen index once per ingest session,
    // not once per micro-batch (see [[open]])
    val idx = open(s, path)
    delta.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val verdict = dedupDelta(idx, batch, Int.MaxValue).localCheckpoint()
        graft.streaming.ExactlyOnceJdbc
          .commitBatch(verdict, id, url, verdictTable, props)
        graft.streaming.ExactlyOnceJdbc.commitBatch(
          batch.join(verdict.filter(col("is_new"))
            .select(col("doc_id")), "doc_id"),
          id, url, admittedTable, props)
      }
      .start()
  }

  /** Day-close for [[ingestEos]]: append the admitted docs (read back
    * from the exactly-once store, so replays contributed each doc
    * once) to the standing index — IDEMPOTENTLY. The index carries a
    * committed-epoch high-water mark sidecar; only admitted rows with
    * batch_id above it append, and the mark advances after the
    * append. Re-running day-close (the natural retry after a crash,
    * or tomorrow's close over the same table) is therefore a no-op
    * for everything already committed, instead of re-appending the
    * whole history and double-counting n_dups (r11 self-review
    * finding). Crash WINDOW: dying between update() and the mark
    * write re-appends one day's delta on retry — the same bounded
    * at-least-once window Spark's own file-sink manifest closes with
    * an atomic rename; acceptable here because the mark write is one
    * tiny file straight after a small append.
    *
    * CONCURRENT-INGEST safety (r12): the natural deployment closes
    * day N while day N+1's stream is still committing, so the
    * admitted table GROWS during this call. Two guards make that
    * benign: (1) the window is closed on BOTH ends —
    * `hwm < batch_id <= newHwm` with newHwm sampled once up front —
    * so epochs landing mid-close fall outside this close's window
    * and are picked up whole by the next one; (2) the admitted frame
    * is localCheckpoint'd into one materialized snapshot BEFORE
    * [[update]]'s three writes, so bands / bucket_stats / shingles
    * are built from the SAME row set instead of four independent
    * lazy JDBC re-reads racing the stream (a doc with bands but no
    * shingles was possible before this). */
  def commitAdmitted(s: SparkSession, path: String, url: String,
      admittedTable: String, props: java.util.Properties): Unit = {
    val hwm = loadProps(path, "commit_watermark.properties")
      .map(_.getProperty("hwm").toLong).getOrElse(-1L)
    val store = graft.sources.Jdbc.read(s, url, admittedTable, props)
    val newHwm = store.filter(col("batch_id") > hwm)
      .agg(max(col("batch_id"))).head().get(0)
    if (newHwm != null) {
      val admitted = store
        .filter(col("batch_id") > hwm &&
          col("batch_id") <= lit(newHwm.asInstanceOf[Long]))
        .drop("batch_id")
        .localCheckpoint()
      try update(admitted, path)
      finally admitted.unpersist()
      storeProps(path, "commit_watermark.properties",
        Map("hwm" -> newHwm.toString),
        "graft DedupIndex committed-epoch high-water mark")
    }
  }
}
