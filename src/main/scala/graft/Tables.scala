package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Parquet star-schema loaders for the sf testdata (TESTDATA.md),
  * batch ([[t]]) and streaming ([[stream]]) — the one module that knows
  * how a table is stored: its on-disk layout and column encodings.
  *
  * All reads go through the parquet source so Catalyst gets column
  * pruning + filter pushdown into the scan for free — at 100 TB these
  * scans are the dominant cost and must stay prunable.
  *
  * Every read passes the table's schema to the parquet source. Without
  * one, Spark infers it on each read with a one-task job that reads a
  * file footer; here it is inferred once per JVM and table, and again
  * only when the table's files or the inference settings change.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Batch read of one table. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    normalized(name, read(spark, dir, name))

  /** The streaming twin of [[t]]: a file-source stream over the same
    * table, with the schema of one batch read and the same column
    * types. The sf testdata and benchmark data store a table as a
    * single FILE, which the file source reads as its parent directory
    * plus a glob; tools.Scale writes parquet DIRECTORIES, read
    * directly. */
  def stream(spark: SparkSession, dir: String, name: String): DataFrame = {
    val file = new java.io.File(s"$dir/$name.parquet")
    val r = spark.readStream.schema(schema(spark, dir, name))
    normalized(name,
      if (file.isDirectory) r.parquet(file.getPath)
      else r.option("pathGlobFilter", file.getName).parquet(dir))
  }

  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schema(spark, dir, name)).parquet(s"$dir/$name.parquet")

  /** Parquet settings that change the types Spark infers from a file. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** What an inferred schema depends on: the table's files (name,
    * length, modification time — a single file, or the data files of
    * a tools.Scale directory) and the inference settings. */
  private final case class Stamp(files: Seq[(String, Long, Long)],
      confs: Seq[Option[String]])

  /** Table path → the schema inferred for it and the stamp it was
    * inferred under: one entry per table path. */
  private val schemas = new ConcurrentHashMap[String, (Stamp, StructType)]()

  /** The table's schema as Spark infers it, inferred again only when
    * the stamp changed since the last read of the same path. */
  private def schema(spark: SparkSession, dir: String, name: String): StructType = {
    // TIMESTAMP(NANOS) events.ts is refused by Spark's µs TimestampType
    // unless read as raw int64 (see [[normalized]])
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = new Path(s"$dir/$name.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(path)
    val top = fs.getFileStatus(qualified)
    val files: Seq[FileStatus] =
      if (!top.isDirectory) Seq(top)
      else fs.listStatus(qualified).toSeq.filterNot { f =>
        val n = f.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
    val stamp = Stamp(
      files.map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sorted,
      inferenceConfs.map(spark.conf.getOption))
    val key = qualified.toString
    Option(schemas.get(key)).collect { case (`stamp`, s) => s }.getOrElse {
      val s = spark.read.parquet(key).schema
      schemas.put(key, (stamp, s))
      s
    }
  }

  /** The sf testdata's events.parquet has shipped ts three ways across
    * testdata generations: TIMESTAMP(NANOS) (read as raw int64 nanos
    * and divided; the data is µs-aligned so this is lossless),
    * TIMESTAMP_NTZ(µs) (naive µs — cast through the UTC session zone,
    * which every entry point pins, reproducing the same instants), and
    * plain TIMESTAMP(µs) in tools.Scale rewrites (passthrough). All
    * downstream code, batch and streaming, sees one type:
    * TimestampType, µs, UTC. */
  private def normalized(name: String, df: DataFrame): DataFrame =
    if (name != "events") df
    else df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** Register every table as a temp view so queries can exercise the
    * SQL surface (the reference's Table/SQL API — SURVEY.md §3.3). */
  def views(spark: SparkSession, dir: String): Unit =
    names.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))

  /** Spread an UNDER-PARALLEL scan across the cluster before an
    * expensive per-row stage (r18 OPT; guide §2.5 "input skew: one
    * huge unsplittable file … repartition immediately after the
    * read"). The sandbox's tables are single sub-split parquet files,
    * so every explode/hash/shingle pass downstream of a bare read ran
    * as ONE task regardless of core count — the reason no query
    * showed parallel speedup between 8 and 32 cores at sf0.1 (r17
    * verdict item 4). Hash-repartitions on `key` to
    * spark.sql.shuffle.partitions (the scale dial — the bench sets it
    * to $SPARK_GRAFT_CPUS per the driver contract; a cluster sets its
    * own) ONLY when the scan has fewer partitions than that, so at
    * production scale, where the scan already fills the cluster, this
    * is a no-op with zero added exchanges. Deterministic placement
    * (hash of a real key, not round-robin), so retries are safe
    * (SPARK-38388) and results are partitioning-independent as every
    * operator here already guarantees. */
  def spread(df: DataFrame, key: String): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions < target)
      // EXPLICIT partition count: a bare repartition(col) is advisory
      // and AQE's byte-based coalescing folds it straight back to one
      // partition (these frames are small in bytes, huge in per-row
      // cost); the explicit count pins the fan-out.
      df.repartition(target, col(key))
    else df
  }
}
