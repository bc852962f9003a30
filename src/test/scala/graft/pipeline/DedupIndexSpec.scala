package graft.pipeline

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The persisted standing-index facade (DedupIndex): index reuse must
  * be hash-equal to the q166 recompute, appends must equal a rebuild,
  * and the delta probe must dynamically prune index partitions.
  */
class DedupIndexSpec extends SparkSpec {

  private def docs = Tables.t(spark, sf, "documents")
  private def tmp() = java.nio.file.Files
    .createTempDirectory("graft-dedupindex-spec").toString

  private def verdictStrings(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).sorted

  test("index reuse is hash-equal to the recompute path") {
    val delta = docs.filter(col("doc_id") % 10 === 9)
    val corpus = docs.filter(col("doc_id") % 10 =!= 9)
    val recompute = verdictStrings(Dedup.incrementalDedup(delta,
      DedupIndex.bandRows(corpus), DedupIndex.shingleRows(corpus)))
    val path = tmp()
    DedupIndex.save(corpus, path)
    val viaIndex = verdictStrings(DedupIndex.dedupDelta(spark, delta, path))
    assert(recompute.nonEmpty && recompute.sameElements(viaIndex),
      "persisted-index verdict diverged from recompute")
  }

  test("update() appends a committed delta: aged index equals a rebuild") {
    // day 0: corpus is doc_id % 10 in 0..7; day 1 commits % 10 == 8;
    // day 2's delta (% 10 == 9) must see the same standing corpus
    // whether the index aged through update() or was rebuilt whole
    val day0 = docs.filter(col("doc_id") % 10 < 8)
    val day1 = docs.filter(col("doc_id") % 10 === 8)
    val delta = docs.filter(col("doc_id") % 10 === 9)
    val aged = tmp()
    DedupIndex.save(day0, aged)
    DedupIndex.update(day1, aged)
    val rebuilt = tmp()
    DedupIndex.save(docs.filter(col("doc_id") % 10 =!= 9), rebuilt)
    val a = verdictStrings(DedupIndex.dedupDelta(spark, delta, aged))
    val b = verdictStrings(DedupIndex.dedupDelta(spark, delta, rebuilt))
    assert(a.nonEmpty && a.sameElements(b),
      "aged index (save + update) diverged from a full rebuild")
  }

  test("fan-outs are a property of the index: persisted, read back, loud when absent") {
    val delta = docs.filter(col("doc_id") % 10 === 9)
    val corpus = docs.filter(col("doc_id") % 10 =!= 9)
    val reference = verdictStrings(Dedup.incrementalDedup(delta,
      DedupIndex.bandRows(corpus), DedupIndex.shingleRows(corpus)))
    // the derived fan-outs round-trip through the metadata file, and
    // the verdict is layout-independent (same hash at any fan-out)
    val path = tmp()
    DedupIndex.save(corpus, path)
    val persisted = DedupIndex.loadProps(path, "index_meta.properties").get
    val m = DedupIndex.meta(path)
    assert(persisted.getProperty("bandBuckets") == m.bandBuckets.toString &&
      persisted.getProperty("docBuckets") == m.docBuckets.toString,
      s"read-back $m differs from the persisted $persisted")
    assert(verdictStrings(DedupIndex.dedupDelta(spark, delta, path))
      .sameElements(reference), "persisted fan-out changed the verdict")
    // update() must use the PERSISTED layout: after an append the aged
    // index keeps its fan-outs and still answers identically
    DedupIndex.update(delta.limit(0), path) // no-op append exercises the path
    assert(DedupIndex.meta(path) == m)
    assert(verdictStrings(DedupIndex.dedupDelta(spark, delta, path))
      .sameElements(reference))
    // an index without metadata fails loudly instead of guessing
    val bare = tmp()
    intercept[IllegalStateException] {
      DedupIndex.dedupDelta(spark, delta, bare)
    }
  }

  test("delta probe dynamically prunes index partitions") {
    val delta = docs.filter(col("doc_id") % 10 === 9)
    val corpus = docs.filter(col("doc_id") % 10 =!= 9)
    val path = tmp()
    DedupIndex.save(corpus, path)
    val df = DedupIndex.dedupDelta(spark, delta, path)
    df.collect()
    // AQE's toString repeats the tree under "== Initial Plan ==" —
    // assert on the final-plan section only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("dynamicpruning"),
      s"index scan carries no dynamic partition pruning filter:\n$p")
  }

  test("auto fan-out: derived from corpus size, verdict fan-out-independent") {
    val delta = docs.filter(col("doc_id") % 10 === 9)
    val corpus = docs.filter(col("doc_id") % 10 =!= 9)
    val auto = tmp()
    DedupIndex.save(corpus, auto)
    val n = corpus.count()
    val m = DedupIndex.meta(auto)
    assert(m.bandBuckets == math.min(4096L, math.max(8L, n / 1000)).toInt &&
      m.docBuckets == math.min(1024L, math.max(8L, n / 4000)).toInt,
      s"auto fan-out ${m.bandBuckets}/${m.docBuckets} does not track n=$n")
    // index-shaped frames (partition columns bucketed at a fan-out)
    // give the same verdict at any fan-out, and the same as the saved
    // index and the unpartitioned recompute
    def atFanOut(f: DedupIndex.Meta) = verdictStrings(Dedup.incrementalDedup(delta,
      DedupIndex.bandRows(corpus)
        .withColumn("pb", pmod(col("bval"), lit(f.bandBuckets))),
      DedupIndex.shingleRows(corpus)
        .withColumn("pd", pmod(col("doc_id"), lit(f.docBuckets))),
      Some(f)))
    val a = atFanOut(DedupIndex.Meta(32, 16))
    val b = atFanOut(DedupIndex.Meta(8, 8))
    assert(a.nonEmpty && a.sameElements(b),
      "dedup verdict depends on the index fan-out")
    assert(a.sameElements(verdictStrings(DedupIndex.dedupDelta(spark, delta, auto))))
    assert(a.sameElements(verdictStrings(Dedup.incrementalDedup(delta,
      DedupIndex.bandRows(corpus), DedupIndex.shingleRows(corpus)))))
  }

  test("open reads the declared schemas: no Spark job, and each equals Spark's inference") {
    val path = tmp()
    DedupIndex.save(docs.filter(col("doc_id") % 10 =!= 9), path)
    val (idx, jobs) = jobsDuring(DedupIndex.open(spark, path))
    assert(jobs == 0, s"open started $jobs jobs")
    for ((table, df) <- Seq("bands" -> idx.bands, "shingles" -> idx.shingles))
      assert(df.schema == spark.read.parquet(s"$path/$table").schema,
        s"$table: declared ${df.schema} is not what Spark infers")
  }

  test("one layout: the index holds bands, shingles and two sidecars; meta refuses other layouts") {
    import spark.implicits._
    val path = tmp()
    DedupIndex.save(docs.filter(col("doc_id") % 10 < 8), path)
    DedupIndex.update(docs.filter(col("doc_id") % 10 === 8), path)
    val url = "jdbc:derby:memory:graftlayout;create=true"
    val props = new java.util.Properties
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    Seq((900001L, "a freshly admitted doc with several words", 0L))
      .toDF("doc_id", "text", "batch_id")
      .write.mode("append").jdbc(url, "LAYOUT_ADMITTED", props)
    DedupIndex.commitAdmitted(spark, path, url, "LAYOUT_ADMITTED", props)
    // hidden entries are the local file system's checksums
    val entries = new java.io.File(path).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet
    assert(entries == Set("bands", "shingles", "index_meta.properties",
      "commit_watermark.properties"), s"index entries: $entries")
    // metadata is input from disk: a layout key the index does not
    // write (an index in another layout) is refused, not ignored
    val fanOuts = Map("bandBuckets" -> "8", "docBuckets" -> "8")
    for (extra <- Seq("shingleLayout" -> "pd", "shingleLayout" -> "pb",
        "shingleGroups" -> "8")) {
      val other = tmp()
      DedupIndex.storeProps(other, "index_meta.properties", fanOuts + extra, "spec")
      intercept[IllegalStateException](DedupIndex.meta(other))
    }
    val plain = tmp()
    DedupIndex.storeProps(plain, "index_meta.properties", fanOuts, "spec")
    assert(DedupIndex.meta(plain) == DedupIndex.Meta(8, 8))
  }
}
