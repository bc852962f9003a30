package graft.pipeline

import graft.SparkSpec
import graft.sources.Jdbc
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** q238 / [[AnnIndex]]: the streaming ANN index ingest. Pins
  *  - stream ≡ batch: the per-row literal assigner produces exactly
  *    the relational fit+assign result on the same slice (the
  *    verdict's hash-equal criterion, checked value-by-value);
  *  - the crash-safe EOS loop: replayed/partial epochs land each
  *    assignment exactly once, day-close commits postings
  *    idempotently (the IngestLoopEosSpec schedule on vectors).
  */
class AnnIngestSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = java.nio.file.Files
    .createTempDirectory(prefix).toString

  /** (vec_id → cluster) by the aggregate argmin — delta ×
    * broadcast(centroids), (round(dist, 6), cluster) min per vector —
    * independent of the per-row kernel the assigner runs. */
  private def aggClusters(delta: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    Similarity.edOf(delta).crossJoin(broadcast(cent))
      .withColumn("dist", round(
        graft.functions.VecMath.vec_sq_dist(col("ev"), col("cv")), 6))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cluster"))).as("m"))
      .select(col("vec_id"), col("m.cluster"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("per-row assigner equals the batch fit+assign on the same slice") {
    val e = graft.Tables.t(spark, sf, "embeddings")
    val corpus = e.filter(col("vec_id") % 10 =!= 9)
    val delta = e.filter(col("vec_id") % 10 === 9)
    val idx = tmp("graft-annspec-idx")
    AnnIndex.save(spark, corpus, idx)
    val streamed = AnnIndex.assigner(spark, idx)(delta)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))
      .toMap
    // batch truth: the fitted centroids and codebooks q190 uses, with
    // the assignments taken by the aggregate argmin
    val cent = Similarity.kmeansCentroids(corpus, 8, 2)
    val clusters = aggClusters(delta, cent)
    val (_, cb1, _) = Similarity.pqModel(Similarity.edOf(corpus))
    val dsv = Similarity.edOf(delta)
      .select(col("vec_id"), explode(expr(
        """transform(sequence(0, 3),
          |  j -> struct(j AS j, slice(ev, j * 16 + 1, 16) AS sv))"""
          .stripMargin)).as("p"))
      .select(col("vec_id"), col("p.j").as("j"), col("p.sv").as("sv"))
    val codes = dsv.join(broadcast(cb1), "j")
      .withColumn("dist", round(
        graft.functions.VecMath.vec_sq_dist(col("sv"), col("cv")), 6))
      .groupBy(col("vec_id"), col("j"))
      .agg(min(struct(col("dist"), col("code"))).as("m"))
      .groupBy(col("vec_id"))
      .agg(max(when(col("j") === 0, col("m.code"))).as("c0"),
        (1 until 4).map(j =>
          max(when(col("j") === j, col("m.code"))).as(s"c$j")): _*)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(streamed.nonEmpty && streamed.keySet == clusters.keySet)
    streamed.foreach { case (id, (cl, c0, c1, c2, c3)) =>
      assert(cl.toLong == clusters(id), s"cluster diverged for vec $id")
      assert((c0.toLong, c1.toLong, c2.toLong, c3.toLong) == codes(id),
        s"PQ codes diverged for vec $id")
    }
  }

  test("EOS ingest lands assignments exactly once; day-close commits postings idempotently") {
    implicit val sq = spark.sqlContext
    val url = "jdbc:derby:memory:graftann;create=true"
    val props = new java.util.Properties
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val e = graft.Tables.t(spark, sf, "embeddings")
    val idx = tmp("graft-anneos-idx")
    AnnIndex.save(spark, e.filter(col("vec_id") % 10 =!= 9), idx)
    val basePostings = spark.read.parquet(s"$idx/postings").count()

    def vec(id: Long): (Long, Array[Float]) =
      id -> Array.tabulate(64)(i => ((id * 31 + i * 7) % 100).toFloat / 10f)
    val in = MemoryStream[(Long, Array[Float])]
    val table = "ANN_ASSIGNED"
    val q = AnnIndex.ingestEos(spark,
      in.toDF().toDF("vec_id", "embedding"), idx, url, table,
      tmp("graft-anneos-ckpt"), props)
    try {
      in.addData(vec(1009L), vec(1019L))
      q.processAllAvailable()
      def stored() = Jdbc.read(spark, url, table, props)
      assert(stored().count() == 2)
      // crash mid-append: a partial row of epoch 1's failed attempt
      // sits in the table; the replay (same batchId) must scrub it
      Seq((9999L, 0, 0, 0, 0, 0, 1L))
        .toDF("vec_id", "cluster", "c0", "c1", "c2", "c3", "batch_id")
        .write.mode("append").jdbc(url, table, props)
      in.addData(vec(1029L))
      q.processAllAvailable()
      assert(stored().filter(col("vec_id") === 9999L).count() == 0,
        "partial rows of the crashed attempt must be scrubbed")
      assert(stored().count() == 3)
      assert(stored().select(countDistinct(col("vec_id"))).head.getLong(0) == 3)
    } finally q.stop()

    AnnIndex.commitAdmitted(spark, idx, url, table, props)
    val after = spark.read.parquet(s"$idx/postings").count()
    assert(after == basePostings + 3,
      "day-close must append exactly the ingested assignments")
    // idempotence: a repeated close (crash retry) appends nothing
    AnnIndex.commitAdmitted(spark, idx, url, table, props)
    assert(spark.read.parquet(s"$idx/postings").count() == after,
      "repeated day-close re-appended already-committed postings")

    // CRASH WINDOW (r17, the r16 ADVICE item): simulate a close that
    // died between the postings append and the hwm sidecar write — an
    // epoch directory above the committed hwm with a bogus partial
    // row. The retry must SWEEP it and land the window exactly once.
    val hwm = DedupIndex.loadProps(idx, "commit_watermark.properties")
      .get.getProperty("hwm").toLong
    val staleDir = new java.io.File(
      s"$idx/postings/cluster=0/epoch=${hwm + 7}")
    Seq((424242L, 0, 0, 0, 0))
      .toDF("vec_id", "c0", "c1", "c2", "c3")
      .coalesce(1).write.parquet(staleDir.toString)
    assert(spark.read.parquet(s"$idx/postings")
      .filter(col("vec_id") === 424242L).count() == 1)
    AnnIndex.commitAdmitted(spark, idx, url, table, props)
    val postSweep = spark.read.parquet(s"$idx/postings")
    assert(postSweep.filter(col("vec_id") === 424242L).count() == 0,
      "retry must sweep the crashed close's partial epoch directory")
    assert(postSweep.count() == after,
      "sweep must leave exactly the committed postings")
  }

  test("parameterized geometry: assigner derives k/m/subDim from the persisted model") {
    val e = graft.Tables.t(spark, sf, "embeddings")
    val corpus = e.filter(col("vec_id") % 10 =!= 9)
    val delta = e.filter(col("vec_id") % 10 === 9)
    val idx = tmp("graft-annp-idx")
    // a DIFFERENT geometry than q190's: 4 cells, 1 Lloyd update,
    // m=2 subspaces of 32 dims, 4 codewords
    AnnIndex.save(spark, corpus, idx, k = 4, updates = 1, m = 2,
      ks = 4, subDim = 32)
    val out = AnnIndex.assigner(spark, idx)(delta).collect()
    assert(out.nonEmpty)
    assert(out.head.schema.fieldNames.toSeq ==
      Seq("vec_id", "cluster", "c0", "c1"),
      "m=2 model must yield exactly 2 code columns")
    val streamed = out.map(r => r.getLong(0) ->
      (r.getInt(1).toLong, r.getInt(2).toLong, r.getInt(3).toLong)).toMap
    // batch truth at the same geometry
    val cent = Similarity.kmeansCentroids(corpus, 4, 1)
    val clusters = aggClusters(delta, cent)
    val (_, cb1, _) = Similarity.pqModelP(Similarity.edOf(corpus), 2, 4, 32)
    val codes = Similarity.edOf(delta)
      .select(col("vec_id"), explode(expr(
        """transform(sequence(0, 1),
          |  j -> struct(j AS j, slice(ev, j * 32 + 1, 32) AS sv))"""
          .stripMargin)).as("p"))
      .select(col("vec_id"), col("p.j").as("j"), col("p.sv").as("sv"))
      .join(broadcast(cb1), "j")
      .withColumn("dist", round(
        graft.functions.VecMath.vec_sq_dist(col("sv"), col("cv")), 6))
      .groupBy(col("vec_id"), col("j"))
      .agg(min(struct(col("dist"), col("code"))).as("m"))
      .groupBy(col("vec_id"))
      .agg(max(when(col("j") === 0, col("m.code"))).as("c0"),
        max(when(col("j") === 1, col("m.code"))).as("c1"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    streamed.foreach { case (id, (cl, c0, c1)) =>
      assert(cl == clusters(id), s"cluster diverged for vec $id")
      assert((c0, c1) == codes(id), s"PQ codes diverged for vec $id")
    }
    // fitLimit: a prefix-sample fit builds a coherent model whose
    // assigner still covers every vector (sample fit, full assign)
    val idx2 = tmp("graft-annfit-idx")
    AnnIndex.save(spark, corpus, idx2, fitLimit = Some(200L))
    val cents = spark.read.parquet(s"$idx2/model/centroids").count()
    assert(cents == 8L, "prefix-sample fit must still produce k centroids")
    assert(AnnIndex.assigner(spark, idx2)(delta).count() == delta.count())
  }
}
