package graft.pipeline

import graft.{SparkSpec, Tables}
import graft.functions.VecMath
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-means and PQ at geometries beyond 256 centroids — where the fit
  * and assignment once switched to crossJoin + groupBy aggregate
  * forms — must equal those aggregate forms, which this spec keeps as
  * its own independent reference. */
class NearestCentroidSpec extends SparkSpec {

  /** (vec_id, cluster): corpus × broadcast(centroids), then the
    * (round(dist, 6), cluster) min per vector. */
  private def aggAssign(ed: DataFrame, cent: DataFrame): DataFrame =
    ed.crossJoin(broadcast(cent))
      .withColumn("dist", round(VecMath.vec_sq_dist(col("ev"), col("cv")), 6))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cluster"))).as("m"))
      .select(col("vec_id"), col("m.cluster").as("cluster"))

  /** Lloyd's with the aggregate assignment: first-k init, `updates`
    * iterations of a 6-dp rounded per-(cluster, dim) mean. */
  private def aggKMeans(e: DataFrame, k: Int, updates: Int): DataFrame = {
    val ed = Similarity.edOf(e)
    def update(assigned: DataFrame): DataFrame =
      assigned.join(ed, "vec_id")
        .select(col("cluster"), posexplode(col("ev")))
        .groupBy(col("cluster"), col("pos"))
        .agg(round(avg(col("col")), 6).as("c"))
        .groupBy(col("cluster"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
          .as("cv"))
    var cent = ed.filter(col("vec_id") < k)
      .select(col("vec_id").as("cluster"), col("ev").as("cv"))
    for (_ <- 1 to updates) cent = update(aggAssign(ed, cent))
    cent
  }

  /** One-update PQ with the aggregate codeword assignment:
    * (codebook (j, code, cv), codes (vec_id, j, code)). */
  private def aggPq(ed: DataFrame, m: Int, ks: Int,
      subDim: Int): (DataFrame, DataFrame) = {
    val svs = ed.select(col("vec_id"), explode(array(
        (0 until m).map(j => struct(lit(j).as("j"),
          slice(col("ev"), j * subDim + 1, subDim).as("sv"))): _*)).as("p"))
      .select(col("vec_id"), col("p.j").as("j"), col("p.sv").as("sv"))
    def assign(cb: DataFrame): DataFrame =
      svs.join(broadcast(cb), "j")
        .withColumn("dist", round(VecMath.vec_sq_dist(col("sv"), col("cv")), 6))
        .groupBy(col("vec_id"), col("j"))
        .agg(min(struct(col("dist"), col("code"))).as("mn"))
        .select(col("vec_id"), col("j"), col("mn.code").as("code"))
    val cb0 = svs.filter(col("vec_id") < ks)
      .select(col("j"), col("vec_id").as("code"), col("sv").as("cv"))
    val cb1 = assign(cb0)
      .join(svs, Seq("vec_id", "j"))
      .select(col("j"), col("code"), posexplode(col("sv")).as(Seq("si", "x")))
      .groupBy(col("j"), col("code"), col("si"))
      .agg(round(avg(col("x")), 6).as("c"))
      .groupBy(col("j"), col("code"))
      .agg(expr("transform(array_sort(collect_list(struct(si, c))), s -> s.c)")
        .as("cv"))
    (cb1, assign(cb1))
  }

  private def rows(df: DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  test("k = 300: the Lloyd's fit and flat assignment equal the aggregate forms") {
    val e = Tables.t(spark, sf, "embeddings")
    val cent = Similarity.kmeansCentroids(e, 300, 1)
    val refCent = aggKMeans(e, 300, 1)
    assert(cent.count() > 256, "the fit must reach past the former 256-centroid ceiling")
    assert(rows(cent, "cluster", "cv") == rows(refCent, "cluster", "cv"),
      "centroids diverged from the aggregate fit")
    val got = rows(Similarity.assignWith(e, cent), "vec_id", "cluster")
    assert(got.size == e.count())
    assert(got == rows(aggAssign(Similarity.edOf(e), refCent), "vec_id", "cluster"),
      "assignment diverged from the aggregate argmin")
  }

  test("ks = 300: the PQ codebook and codes equal the aggregate forms") {
    val ed = Similarity.edOf(Tables.t(spark, sf, "embeddings"))
    val (_, cb, codes) = Similarity.pqModelP(ed, 4, 300, 16)
    val (refCb, refCodes) = aggPq(ed, 4, 300, 16)
    assert(cb.count() > 4 * 256, "the fit must reach past the former 256-codeword ceiling")
    assert(rows(cb, "j", "code", "cv") == rows(refCb, "j", "code", "cv"),
      "codebook diverged from the aggregate fit")
    assert(rows(codes, "vec_id", "j", "code") == rows(refCodes, "vec_id", "j", "code"),
      "codes diverged from the aggregate argmin")
  }

  test("an empty model assigns zero rows") {
    val e = Tables.t(spark, sf, "embeddings")
    val empty = Similarity.kmeansCentroids(e.filter(lit(false)), 8, 2)
    assert(empty.count() == 0)
    assert(Similarity.assignWith(e, empty).count() == 0)
    // no vec_id < ks: no codebook and no codes, and no exception
    val (_, cb, codes) = Similarity.pqModelP(
      Similarity.edOf(e).filter(col("vec_id") >= 4), 4, 4, 16)
    assert(cb.count() == 0 && codes.count() == 0)
  }
}
