package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

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
  * shingle verification joins on (doc_o, pd). [[save]] derives the
  * fan-outs from the corpus size and persists them in the index's
  * metadata file, which [[update]]/[[dedupDelta]] read back, so the
  * probe's delta-side bucket computation always agrees with the
  * layout on disk (an index without metadata fails loudly).
  * Appends ([[update]]) are new files in existing partitions — no
  * index rewrite, no shuffle of the standing corpus, ever.
  *
  * Reference behavior: linweijiang/Flink-1.8-SourceCode has no dedup
  * index; this extends the training-data-pipeline family (SURVEY §2
  * LLM-ops) the same way production systems do.
  */
object DedupIndex {

  /** Index-layout metadata, persisted by [[save]] and read back by
    * every consumer — the fan-outs are a property OF THE INDEX, not
    * of the code that happens to probe it. */
  final case class Meta(bandBuckets: Int, docBuckets: Int)

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

  private val metaKeys = Seq("bandBuckets", "docBuckets")

  private def writeMeta(path: String, m: Meta): Unit =
    storeProps(path, "index_meta.properties",
      Map("bandBuckets" -> m.bandBuckets.toString,
        "docBuckets" -> m.docBuckets.toString),
      "graft DedupIndex layout — fan-outs are load-bearing")

  /** Load the index's persisted layout; loud failure if absent or if
    * it carries any key but the two fan-outs — a probe guessing
    * fan-outs, or reading an index written in another layout (an
    * extra layout key), would silently miss rows, so there is no
    * fallback. */
  def meta(path: String): Meta = {
    val file = s"$path/index_meta.properties"
    val p = loadProps(path, "index_meta.properties").getOrElse(
      throw new IllegalStateException(s"$file missing: not a DedupIndex " +
        "(or written by a pre-metadata version); rebuild with DedupIndex.save"))
    val keys = p.stringPropertyNames.asScala.toSeq.sorted
    if (keys != metaKeys.sorted) throw new IllegalStateException(
      s"$file holds keys ${keys.mkString(", ")}, expected exactly " +
        s"${metaKeys.mkString(", ")}: an index in another layout; " +
        "rebuild with DedupIndex.save")
    Meta(p.getProperty("bandBuckets").toInt, p.getProperty("docBuckets").toInt)
  }

  /** The two tables' schemas, partition column last, as Spark infers
    * them from a saved index ([[save]] and [[update]] write exactly
    * these; [[open]] reads with them, so opening an index runs no
    * footer-reading job). */
  private[pipeline] val bandsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("band", IntegerType),
    StructField("bval", LongType), StructField("pb", IntegerType)))
  private[pipeline] val shinglesSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("shingles", ArrayType(StringType)),
    StructField("pd", IntegerType)))

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

  /** Build (or rebuild) the standing index from a corpus. The fan-outs
    * derive from the corpus size (r17, scale-adaptive partitioning): a
    * fixed 256/64 suited neither regime — a sandbox-scale corpus paid
    * 320 partition-directory writes (and each probe their listings)
    * for buckets holding ~17 docs, while a 100 TB corpus would want
    * more than 256. The target is ~1000 docs per band bucket / ~4000
    * per doc bucket, clamped to [8, 4096] and [8, 1024]; the fan-out
    * persists in the index metadata, so probes and updates of an
    * existing index are unaffected, and verdicts are
    * fan-out-independent by construction (pmod bucketing only places
    * rows; DedupIndexSpec pins update ≡ rebuild and dedupDelta ≡
    * q166). */
  def save(corpus: DataFrame, path: String): Unit = {
    val n = corpus.count()
    val m = Meta(math.min(4096L, math.max(8L, n / 1000)).toInt,
      math.min(1024L, math.max(8L, n / 4000)).toInt)
    println(s"[dedup-index] auto fan-out: $n corpus docs -> " +
      s"bandBuckets=${m.bandBuckets} docBuckets=${m.docBuckets}")
    write(corpus, m, path, "overwrite")
    writeMeta(path, m)
  }

  /** Append a COMMITTED delta to the index (after its dedup verdict
    * admitted it): new files in existing partitions, nothing about
    * the standing corpus is read or rewritten. */
  def update(delta: DataFrame, path: String): Unit =
    write(delta, meta(path), path, "append")

  /** The two writes of [[save]] ("overwrite") and [[update]]
    * ("append"), each in its declared schema.
    *
    * Repartition ON the partition column before partitionBy: without
    * it every write task emits one file per bucket value it holds
    * (tasks × buckets small files — at a raised fan-out that is a
    * file-count explosion); with it each bucket's rows land in one
    * task, so the index is ~one file per bucket. */
  private def write(docs: DataFrame, m: Meta, path: String,
      mode: String): Unit = {
    conform(bandRows(docs).withColumn("pb", pmod(col("bval"), lit(m.bandBuckets))),
      bandsSchema)
      .repartition(col("pb"))
      .write.mode(mode).partitionBy("pb").parquet(s"$path/bands")
    conform(shingleRows(docs).withColumn("pd", pmod(col("doc_id"), lit(m.docBuckets))),
      shinglesSchema)
      .repartition(col("pd"))
      .write.mode(mode).partitionBy("pd").parquet(s"$path/shingles")
  }

  /** Score a delta against the stored index: same (doc_id, n_dups,
    * keeper, is_new) verdict as q166's recompute path, hash-equal by
    * construction (DedupIndexSpec pins it, q176's oracle re-proves it
    * every sweep). */
  def dedupDelta(s: SparkSession, delta: DataFrame, path: String): DataFrame =
    dedupDelta(open(s, path), delta)

  /** The index's session handle (r18 OPT, guide §6 — file listing):
    * metadata + the band/shingle frames resolved ONCE.
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
      private[pipeline] val shingles: DataFrame)

  def open(s: SparkSession, path: String): Opened =
    new Opened(meta(path),
      s.read.schema(bandsSchema).parquet(s"$path/bands"),
      s.read.schema(shinglesSchema).parquet(s"$path/shingles"))

  def dedupDelta(idx: Opened, delta: DataFrame): DataFrame =
    Dedup.incrementalDedup(delta, idx.bands, idx.shingles, Some(idx.m))

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
        val verdict = dedupDelta(idx, batch).localCheckpoint()
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
    * [[update]]'s writes, so bands and shingles
    * are built from the SAME row set instead of independent
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
