package graft.pipeline

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Two-level nearest-centroid assignment (Similarity.assignTwoLevel):
  * exactness on super-separated data, bounded drift on real data,
  * and the zero-corpus-shuffle plan contract.
  */
class TwoLevelAssignSpec extends SparkSpec {
  import spark.implicits._

  // 4 groups 1000 apart (dim 0); 2 centroids per group 5 apart
  // (dim 1); cluster ids 0-3 are one centroid PER group so the
  // driver-side Lloyd's init starts with a representative of each —
  // supers converge to the groups and routing is provably exact.
  private def centroid(c: Int): Seq[Double] =
    Seq((c % 4) * 1000.0, (c / 4) * 5.0, 0.0, 0.0)

  test("exact on separated clusters") {
    val cent = (0 until 8).map(c => (c.toLong, centroid(c))).toDF("cluster", "cv")
    val vecs = (0 until 200).map { i =>
      val c = i % 8
      val base = centroid(c)
      (i.toLong, Seq(base(0), base(1), base(2) + 0.001 * (i % 7), base(3)))
    }.toDF("vec_id", "ev")
    val out = Similarity.assignTwoLevel(spark, vecs, cent, superK = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 200)
    (0 until 200).foreach { i =>
      assert(out(i.toLong) == (i % 8).toLong,
        s"vec $i routed to ${out(i.toLong)}, true nearest is ${i % 8}")
    }
  }

  test("vec_id contract: one row per input row, duplicate vec_ids are not merged") {
    val cent = (0 until 8).map(c => (c.toLong, centroid(c))).toDF("cluster", "cv")
    // vec_id 7 twice, with vectors nearest to different centroids
    val vecs = Seq((7L, centroid(1)), (7L, centroid(2)), (8L, centroid(3)))
      .toDF("vec_id", "ev")
    val out = Similarity.assignTwoLevel(spark, vecs, cent, superK = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(out == Seq((7L, 1L), (7L, 2L), (8L, 3L)))
  }

  test("real embeddings: coverage, nProbe-monotone agreement, nProbe=superK exact") {
    val e = Tables.t(spark, sf, "embeddings")
    val flat = Similarity.kmeansClusters(e, 8, 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ed = e.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("ev"))
    val cent = ed.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cluster"), col("ev").as("cv"))
    def run(nProbe: Int): Map[Long, Long] =
      Similarity.assignTwoLevel(spark, ed, cent, superK = 3, nProbe = nProbe)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val p1 = run(1); val p2 = run(2); val p3 = run(3)
    assert(p1.size == flat.size, "two-level must assign every vector")
    def agree(m: Map[Long, Long]): Int = m.count { case (k, v) => flat(k) == v }
    // candidate sets grow with nProbe → per-vector agreement is monotone
    assert(agree(p1) <= agree(p2) && agree(p2) <= agree(p3),
      s"monotonicity violated: ${agree(p1)}/${agree(p2)}/${agree(p3)}")
    // probing every super IS the flat scan
    assert(p3 == flat, "nProbe = superK must equal the flat assignment")
  }

  test("semDedup facade: superK = nProbe two-level path equals the flat keep-list") {
    // r10 wiring (verdict #2): semDedup(superK, nProbe) routes the
    // corpus assignment through assignTwoLevel. With nProbe = superK
    // the routing degenerates to the exact flat scan, so the WHOLE
    // pipeline's output — clusters, dup_of, keep-list — must be
    // byte-identical to the flat path end to end.
    val flat = Similarity.semDedup(spark, sf)
      .collect().map(_.toString).sorted
    val two = Similarity.semDedup(spark, sf, superK = 3, nProbe = 3)
      .collect().map(_.toString).sorted
    assert(flat.sameElements(two),
      "two-level facade diverged from flat at nProbe = superK")
    // and an actual approximate setting still produces a full,
    // well-formed keep-list (every vec_id present exactly once)
    val approx = Similarity.semDedup(spark, sf, superK = 3, nProbe = 1)
    assert(approx.select(col("vec_id")).distinct().count() == approx.count())
    assert(approx.count() == flat.length.toLong)
  }

  test("auto-routing defaults: flat below the measured threshold, √k two-level above") {
    // r10 verdict #6: the flat↔two-level decision is measured
    // (PLANS.md r10 tables) — encode it so callers get the right
    // regime with no knobs. Decision pins:
    assert(Similarity.routeSuperK(8) == 0, "small k must stay exact flat")
    assert(Similarity.routeSuperK(799) == 0)
    assert(Similarity.routeSuperK(800) == 28, "k=800 → superK=√k (r10 probe row)")
    assert(Similarity.routeSuperK(2000) == 45)
    assert(Similarity.routeSuperK(8000) == 89, "k=8000 → 89 (r10 probe row)")
    // and the DEFAULT facade call (superK unset) at small k is the
    // exact flat pipeline, byte-identical to forcing flat
    val auto = Similarity.semDedup(spark, sf)
      .collect().map(_.toString).sorted
    val forcedFlat = Similarity.semDedup(spark, sf, superK = 0)
      .collect().map(_.toString).sorted
    assert(auto.sameElements(forcedFlat),
      "auto default at small k must be the exact flat path")
  }

  test("plan: both routing stages are pure maps — no join, no exchange at all") {
    val cent = (0 until 8).map(c => (c.toLong, centroid(c))).toDF("cluster", "cv")
    // localCheckpoint blocks ConvertToLocalRelation from folding the
    // whole (now pure-projection) assignment into a LocalTableScan on
    // the driver, so the plan stays observable
    val vecs = (0 until 100).map(i => (i.toLong, centroid(i % 8)))
      .toDF("vec_id", "ev").localCheckpoint()
    val df = Similarity.assignTwoLevel(spark, vecs, cent, superK = 4)
    df.collect()
    // AQE's toString repeats the tree under "== Initial Plan ==" —
    // assert on the final-plan section only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle for a join")
    assert(p.contains("vec_nearest_ind"), s"stage-1 routing expression missing:\n$p")
    // r18 (verdict item 8): stage 2 compiles to a literal-map argmin
    // projection — the former member join + per-vector aggregate
    // exchange are gone entirely
    assert(!p.contains("Exchange"),
      s"assignment must be exchange-free end to end:\n$p")
  }
}
