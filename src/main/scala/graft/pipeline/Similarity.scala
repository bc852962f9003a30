package graft.pipeline

import graft.{QueryDef, QueryModule, Tables}
import graft.streaming.Drain
import graft.functions.TopK
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType,
  LongType, StructField, StructType}
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over the embeddings table.
  *
  * Baseline: brute-force cosine top-k (query side broadcast — the
  * classic "small probe set × huge corpus" shape; the corpus scan is
  * embarrassingly parallel and never shuffles). Scale path: bucketed
  * search (coarse partition → local top-k), which is the IVF shape —
  * here the stored `label` plays the coarse-centroid-assignment role;
  * swapping in k-means assignments changes only the bucket column.
  *
  * All arithmetic is forced to double (float inputs upcast inside the
  * lambdas) and scores rounded to 6 dp BEFORE ranking so Spark and the
  * DuckDB oracle rank identically.
  */
object Similarity extends QueryModule {

  import graft.functions.VecMath

  /** cosine(qv, ev) — fused folds, bit-identical to the former
    * higher-order-function composite (same IEEE order). */
  private def cosCol: Column =
    VecMath.vec_dot(col("qv"), col("ev")) /
      (VecMath.vec_norm(col("qv")) * VecMath.vec_norm(col("ev")))

  /** DuckDB oracle fragment: exact-double cosine via zipped unnests. */
  private def duckCos(qFilter: String, joinCond: String): String =
    s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
       |flat AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
       |                unnest(range(len(embedding))) AS i FROM e),
       |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vec_id),
       |dots AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id, sum(fa.x * fb.x) AS dot
       |  FROM e a JOIN e b ON $joinCond
       |  JOIN flat fa ON fa.vec_id = a.vec_id
       |  JOIN flat fb ON fb.vec_id = b.vec_id AND fb.i = fa.i
       |  WHERE $qFilter
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT query_id, dots.vec_id AS vec_id,
       |    round(dot / (na.nrm * nb.nrm), 6) AS score
       |  FROM dots JOIN norms na ON na.vec_id = query_id
       |            JOIN norms nb ON nb.vec_id = dots.vec_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, vec_id) AS rn FROM scored)
       |SELECT query_id, vec_id, score, CAST(rn AS INTEGER) AS rn
       |FROM ranked WHERE rn <= 3
       |ORDER BY query_id, rn""".stripMargin

  /** sqrt(Σx²) — computed ONCE per vector before the probe×corpus
    * join; inside the score expression it would re-run per candidate
    * pair (probes× for corpus rows, |corpus|× for probe rows). */
  private def normExpr(c: String) = VecMath.vec_norm(col(c))

  private def topk(s: SparkSession, dir: String, sameLabel: Boolean): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("embedding").as("qv"), normExpr("embedding").as("q_nrm"))
    val corpus = e.select(col("vec_id"), col("label"), col("embedding").as("ev"),
      normExpr("embedding").as("e_nrm"))
    val joined =
      if (sameLabel) corpus.join(broadcast(queries),
        col("q_label") === col("label") && col("query_id") =!= col("vec_id"))
      else corpus.join(broadcast(queries), col("query_id") =!= col("vec_id"))
    // per-partition bounded top-k merged per query — a window
    // row_number() here would range-shuffle every scored corpus×probe
    // row; the aggregate ships ≤ queries×k rows per task instead.
    // Same double math as the one-expression cosine (dot / (√·√)), so
    // the rounded scores are bit-identical to the oracle's.
    joined
      .withColumn("score", round(VecMath.vec_dot(col("qv"), col("ev"))
        / (col("q_nrm") * col("e_nrm")), 6))
      .groupBy(col("query_id"))
      .agg(TopK.topK(3)(col("score"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("vec_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("int").as("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** Deterministic Lloyd's k-means expressed relationally, so the SQL
    * oracle can replay the EXACT fit: init = the first k vectors
    * (cluster id = vec_id), a fixed number of update iterations,
    * centroid components and distances rounded to 6 dp each step (the
    * argmin becomes independent of fp summation order on either
    * engine), ties broken by lowest cluster id. Returns
    * (vec_id, cluster).
    *
    * Plan shape per iteration: one corpus×k nearest-centroid pass
    * (centroids broadcast — k·dim doubles, never a shuffle of the
    * corpus) and one posexplode + (cluster, dim) partial-aggregated
    * avg for the update — the standard distributed Lloyd's cost. At
    * 100 TB you fit on a sample and only the final assignment pass
    * touches the full corpus; `updates = 0` gives exactly that
    * assign-only pass over pre-fitted centroids. */
  /** The embeddings table with its vectors cast to double arrays —
    * the input shape both assignment paths consume. */
  private[pipeline] def edOf(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("ev"))

  /** Collected (id, centroid) rows sorted by id — the driver-side
    * model [[VecMath.vec_nearest_index]] carries. */
  private[pipeline] type CentArr = Array[(Long, Seq[Double])]

  /** The one collect of a model frame: its (`id`, cv) rows per `group`
    * value (one group per PQ subspace j; a single group 0 otherwise),
    * each sorted by id. */
  private[pipeline] def collectModel(df: DataFrame, id: String,
      group: Column = lit(0)): Map[Int, CentArr] =
    df.select(group.cast("int"), col(id).cast("long"), col("cv")).collect()
      .groupBy(_.getInt(0))
      .map { case (g, rows) =>
        g -> rows.map(r => (r.getLong(1), r.getSeq[Double](2))).sortBy(_._1)
      }

  private[pipeline] def collectCent(cent: DataFrame, id: String = "cluster"): CentArr =
    collectModel(cent, id).getOrElse(0, Array.empty)

  /** A (j, code, cv) PQ codebook, collected per subspace j. */
  private[pipeline] def collectCodebook(cb: DataFrame): Map[Int, CentArr] =
    collectModel(cb, "code", col("j"))

  /** A collected model as a driver-literal local frame: the non-null
    * `keys` columns, then `cv ARRAY<DOUBLE>`. Consumers (writes,
    * broadcast joins, the next collect) replay no fit lineage, and
    * doubles survive the driver round-trip bit-exactly. */
  private[pipeline] def modelFrame(s: SparkSession, rows: Seq[Row],
      keys: (String, DataType)*): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(
      keys.map { case (n, t) => StructField(n, t, nullable = false) } :+
        StructField("cv", ArrayType(DoubleType, containsNull = false))))

  /** A centroid model as its (cluster BIGINT, cv) literal frame. */
  private[pipeline] def centFrame(s: SparkSession, arr: CentArr): DataFrame =
    modelFrame(s, arr.toSeq.map(c => Row(c._1, c._2)), "cluster" -> LongType)

  /** The Lloyd's FIT alone: (cluster, cv) after `updates` iterations.
    * Exposed separately (r10) so callers can pair the fit with either
    * assignment pass — [[assignFlat]] (exact, the oracle pin) or
    * [[assignTwoLevel]] (Θ(N·2√k), the large-k scale path).
    *
    * Each iteration collects the current centroids (k rows) and
    * assigns per row with [[VecMath.vec_nearest_index]], feeding the
    * posexplode directly, so one iteration is ONE bounded-key
    * (cluster × dim, map-side-combined) aggregation pass over the
    * corpus: no crossJoin, no N-row groupBy(vec_id) exchange, no
    * assignment join back to the embeddings. The returned frame is a
    * literal local table ([[modelFrame]], k rows), so downstream
    * consumers replay no fit lineage. An empty input fits an empty
    * model. */
  private[pipeline] def kmeansCentroids(e: DataFrame, k: Int, updates: Int): DataFrame = {
    // posexplode the cast INLINE: a pre-projected `ev` here trips
    // InferFiltersFromGenerate, which re-evaluates the transform in
    // an interpreted filter pushed below (PLANS.md r8)
    val ev = expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    def update(assigned: DataFrame): DataFrame =
      assigned
        .select(col("cluster"), posexplode(ev))
        .groupBy(col("cluster"), col("pos"))
        .agg(round(avg(col("col")), 6).as("c"))
        .groupBy(col("cluster"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
          .as("cv"))
    var arr = collectCent(edOf(e).filter(col("vec_id") < k)
      .select(col("vec_id").as("cluster"), col("ev").as("cv")))
    for (_ <- 1 to updates if arr.nonEmpty)
      arr = collectCent(update(e.select(
        VecMath.vec_nearest_index(ev, arr.toSeq).as("cluster"), col("embedding"))))
    centFrame(e.sparkSession, arr)
  }

  private[pipeline] def kmeansClusters(e: DataFrame, k: Int, updates: Int): DataFrame =
    assignFlat(edOf(e), kmeansCentroids(e, k, updates))

  /** The flat nearest-centroid pass — exact, Θ(N·k) FLOPs:
    * (vec_id, cluster) for every row of `ed`. */
  private def assignFlat(ed: DataFrame, cent: DataFrame): DataFrame =
    withClusterFlat(ed, cent, col("ev")).select(col("vec_id"), col("cluster"))

  /** Assign every vector of `e` against a PRE-FIT centroid frame —
    * the standing-model assignment pass: fit on the reference corpus,
    * assign everything (q237's drift monitor; also the "fit on a
    * sample" posture the kmeansCentroids scaladoc describes). */
  private[pipeline] def assignWith(e: DataFrame, cent: DataFrame): DataFrame =
    assignFlat(edOf(e), cent)

  /** `df` with the nearest-centroid `cluster` (BIGINT) of its vector
    * column `v` (double array) attached AS A PROJECTION: the centroid
    * frame collects driver-side and [[VecMath.vec_nearest_index]]
    * runs per row, so callers keep the assignment next to the payload
    * without a join back on vec_id. An empty model assigns no rows. */
  private def withClusterFlat(df: DataFrame, cent: DataFrame,
      v: Column): DataFrame = {
    val arr = collectCent(cent)
    (if (arr.isEmpty) df.limit(0) else df)
      .withColumn("cluster", VecMath.vec_nearest_index(v, arr.toSeq))
  }

  /** [[withClusterFlat]] over an (vec_id, embedding, …) frame. */
  private def withClusterLit(e: DataFrame, cent: DataFrame): DataFrame =
    withClusterFlat(e, cent, expr("transform(embedding, x -> CAST(x AS DOUBLE))"))

  /** Two-level nearest-centroid assignment — the escape hatch for the
    * flat pass's Θ(N·k) FLOP cost when k itself scales with the
    * corpus (k ≈ N/clusterSize makes flat assignment Θ(N²/clusterSize);
    * see the r9 SemDeDup probe notes in PLANS.md). The k centroids are
    * grouped into `superK` super-centroids by a small driver-side
    * Lloyd's (the centroid set is broadcast-sized by construction —
    * collecting it is the same data volume the flat pass already
    * ships to every task); each vector routes to its nearest super
    * (N·superK) and then scans only that super's member centroids
    * (N·k/superK on average) — Θ(N·2√k) at superK = √k. Both stages
    * are per-row projections against the driver-collected model: the
    * corpus never shuffles.
    *
    * APPROXIMATE at the boundary: a vector whose true nearest
    * centroid sits in a non-probed super-cluster mis-routes.
    * `nProbe` is the standard IVF dial: route to the nProbe nearest
    * supers (work Θ(N·(superK + nProbe·k/superK))); agreement with
    * the flat pass is MONOTONE in nProbe (candidate sets grow), and
    * nProbe = superK degenerates to the exact flat scan.
    * TwoLevelAssignSpec pins nProbe=1 exactness on separated data,
    * monotonicity + the nProbe=superK equality on the real table.
    * Same 6-dp/lowest-id determinism contract as the flat pass, so
    * results are reproducible under any partitioning.
    *
    * Row contract: the assignment is per ROW, not per vec_id — one
    * (vec_id, cluster) row per input row (minus rows whose probed
    * supers are all memberless, see [[withClusterTwoLevel]]). Rows
    * sharing a vec_id are neither merged nor deduplicated, so callers
    * must pass unique vec_ids: every consumer keys the result by
    * vec_id (pair joins, keep-lists), where a duplicate would fan out.
    * TwoLevelAssignSpec pins the duplicate case. */
  private[pipeline] def assignTwoLevel(s: SparkSession, vecs: DataFrame,
      cent: DataFrame, superK: Int, iters: Int = 2, nProbe: Int = 1): DataFrame =
    assignTwoLevelAll(s, vecs, cent, superK, iters, nProbe)
      .select(col("vec_id"), col("cluster"))

  private def assignTwoLevelAll(s: SparkSession, vecs: DataFrame,
      cent: DataFrame, superK: Int, iters: Int, nProbe: Int): DataFrame = {
    val centArr = collectCent(cent).map(c => (c._1, c._2.toArray))
    require(centArr.nonEmpty && superK >= 1, "need centroids and superK >= 1")
    val dim = centArr.head._2.length
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    def nearest(v: Array[Double], sup: IndexedSeq[Array[Double]]): Int = {
      var best = 0; var bd = Double.MaxValue; var i = 0
      while (i < sup.length) {
        val d = sq(v, sup(i)); if (d < bd) { bd = d; best = i }; i += 1
      }
      best // ties to lowest super id via strict <
    }
    var sup: IndexedSeq[Array[Double]] =
      centArr.take(superK).map(_._2).toIndexedSeq
    for (_ <- 1 to iters) {
      val byS = centArr.groupBy(c => nearest(c._2, sup))
      sup = (0 until sup.length).map { sId =>
        byS.get(sId).map { ms =>
          val m = new Array[Double](dim)
          ms.foreach(c => (0 until dim).foreach(i => m(i) += c._2(i)))
          m.map(_ / ms.length)
        }.getOrElse(sup(sId))
      }
    }
    // r18 OPT (verdict item 8 — the large-k join-back): stage 2 is a
    // PER-ROW PROJECTION, like stage 1. Each row's candidates are the
    // members of its nProbe probed supers (a literal super → member
    // positions map), and the exact kernel takes the same
    // (round(dist, 6), cluster) min over them that the flat pass takes
    // over all centroids — no N-row argmin exchange and no assignment
    // join-back on vec_id (supers partition the centroids, so the
    // candidate set per row is exactly the probed members;
    // TwoLevelAssignSpec pins exactness/monotonicity/degeneracy). A
    // vector whose probed supers are ALL memberless gets a NULL
    // cluster and is dropped.
    val owner = centArr.map(c => nearest(c._2, sup))
    val memberIdx: Map[Int, Seq[Int]] = (0 until sup.length)
      .map(sId => sId -> centArr.indices.filter(owner(_) == sId)).toMap
    val cands = flatten(transform(
      VecMath.vec_nearest_indices(col("ev"), sup.map(_.toSeq), nProbe),
      sId => element_at(typedlit(memberIdx), sId)))
    val clusterCol = VecMath.vec_nearest_index(col("ev"),
      centArr.map(c => (c._1, c._2.toSeq)).toSeq, Some(cands))
    vecs.withColumn("cluster", clusterCol)
      .filter(col("cluster").isNotNull)
  }

  /** [[assignTwoLevel]] keeping the input columns: `cluster` attaches
    * to the vector row as a projection, so large-k callers skip the
    * assignment join-back on vec_id entirely (r18, verdict item 8).
    * Same row contract: one output row per input row, except that a
    * row whose probed supers are all memberless is dropped; vec_ids
    * must be unique, since duplicates pass through as separate rows. */
  private[pipeline] def withClusterTwoLevel(s: SparkSession,
      vecs: DataFrame, cent: DataFrame, superK: Int, iters: Int = 2,
      nProbe: Int = 1): DataFrame =
    assignTwoLevelAll(s, vecs, cent, superK, iters, nProbe)

  /** IVF with real k-means routing: cluster the corpus with the
    * relational Lloyd's above, then run the two-stage search — probes
    * only touch their own cluster, the corpus is scanned once. The
    * whole route (fit + assignment + top-k) is hash-checked against a
    * DuckDB replay of the same fixed-seed fit. */
  /** The shared cluster-gated broadcast-probe scan behind both q135
    * (candidates INSIDE the query's cluster — IVF) and q188
    * (candidates OUTSIDE it — hard negatives): probes broadcast, the
    * corpus map-scans once, per-probe top-3 rides the bounded TopK
    * aggregate. */
  private def clusterProbeTopK(s: SparkSession, dir: String,
      sameCluster: Boolean, k: Int, updates: Int): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    // r17 OPT: cluster attaches as a projection — the former
    // assignment-frame join back on vec_id (an N-row exchange) is gone
    val clustered = withClusterLit(e.select(col("vec_id"), col("embedding")),
      kmeansCentroids(e, k, updates))
    val probes = clustered.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("cluster").as("q_cluster"),
        col("embedding").as("qv"), normExpr("embedding").as("q_nrm"))
    val gate =
      if (sameCluster) col("cluster") === col("q_cluster") &&
        col("vec_id") =!= col("query_id")
      else col("cluster") =!= col("q_cluster")
    clustered
      .select(col("vec_id"), col("cluster"), col("embedding").as("ev"),
        normExpr("embedding").as("e_nrm"))
      .join(broadcast(probes), gate)
      .withColumn("score", round(VecMath.vec_dot(col("qv"), col("ev"))
        / (col("q_nrm") * col("e_nrm")), 6))
      .groupBy(col("query_id"))
      .agg(TopK.topK(3)(col("score"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("vec_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("int").as("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  def ivfKMeans(s: SparkSession, dir: String, k: Int = 8, updates: Int = 2): DataFrame =
    clusterProbeTopK(s, dir, sameCluster = true, k, updates)

  /** Hard-negative mining for contrastive/embedding training (the
    * standard recipe: the best negatives are the most similar
    * examples that are NOT semantically the same — high-cosine
    * vectors OUTSIDE the anchor's cluster). Exactly [[ivfKMeans]]'s
    * broadcast-probe shape with the cluster predicate inverted:
    * anchors broadcast, the corpus map-scans once, the bounded TopK
    * aggregate keeps 3 rows per anchor — no shuffle of the corpus,
    * no window sort. At 100 TB the anchor set is the training
    * batch's queries (fixed-query regime, the q135/q177 argument). */
  def hardNegatives(s: SparkSession, dir: String, k: Int = 8,
      updates: Int = 2): DataFrame =
    clusterProbeTopK(s, dir, sameCluster = false, k, updates)

  /** Int8 scalar quantization with per-vector scale (the standard
    * embedding-store compression: 4× smaller than float32, cheap to
    * decode) plus the fidelity report a pipeline gates on: quantize
    * q_i = clamp(round(x_i/scale), ±127) at scale = max|x|/127,
    * reconstruct, and measure cosine(original, reconstruction).
    * Pure per-row map — transform + array folds, zero shuffle. */
  private[pipeline] def int8Quantize(s: SparkSession, dir: String): DataFrame = {
    val ed = edOf(Tables.t(s, dir, "embeddings"))
      // floor at 1e-6: a (near-)zero vector would otherwise round its
      // scale to 0.0 and push NaN/Inf through the codes and the
      // fidelity ratio, with engine-divergent division-by-zero
      // semantics (r11 self-review finding); the floor keeps the
      // report defined and both engines identical
      .withColumn("scale", greatest(round(
        expr("aggregate(ev, CAST(0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))")
          / 127, 6), lit(1e-6)))
      .withColumn("rv", expr(
        """transform(ev, x -> CAST(least(CAST(127 AS DOUBLE),
          |  greatest(CAST(-127 AS DOUBLE), round(x / scale, 0))) AS INT)
          |  * scale)""".stripMargin))
    ed.select(col("vec_id"), col("scale"),
        round(VecMath.vec_dot(col("ev"), col("rv"))
          / (sqrt(VecMath.vec_dot(col("ev"), col("ev")))
            * sqrt(VecMath.vec_dot(col("rv"), col("rv")))), 6).as("cos_sim"))
      .orderBy(col("vec_id"))
  }

  /** Residual IVF-PQ — the composition FAISS actually ships
    * (IndexIVFPQ): vectors quantize their RESIDUAL x − c(cluster)
    * against the coarse centroid rather than the raw coordinates,
    * so all ks codewords describe the (much tighter) within-cluster
    * displacement distribution instead of re-spending code space on
    * the between-cluster offsets the router already captured —
    * materially better distance fidelity at the same 4 bytes/vector.
    * Same plan skeleton as [[ivfPqTopK]]; the residual subtraction
    * is one zip_with against the broadcast centroid table. Queries
    * take their residual against their OWN routed centroid (single
    * probe), so lookup tables stay per-query broadcast-sized. */
  private[pipeline] def ivfPqResidualTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    val ed = edOf(e)
    val cent = kmeansCentroids(e, 8, 2)
    // r17 OPT: cluster attaches to ed as a projection; the residual
    // subtraction then needs only the broadcast centroid join — the
    // former assignment join back on vec_id (N-row exchange) is gone
    val edc = withClusterFlat(ed, cent, col("ev"))
    // r18 OPT (guide §2.4): the cluster rides the residual projection
    // and the code projection (pqModelP passThrough) — the pre-r18
    // codes ⋈ assigned join on vec_id, an (N·m)-row exchange, is gone
    // (the r17 "Not yet optimized" item 1).
    val res = edc.join(broadcast(cent), "cluster")
      .select(col("vec_id"), col("cluster"),
        expr("zip_with(ev, cv, (x, c) -> x - c)").as("ev"))
    val (svs, cb1, codes) = pqModelP(res, pqM, pqKs, pqSubDim,
      passThrough = Seq("cluster"))
    val lt = pqLookup(svs, cb1)
      .join(broadcast(edc.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("cluster").as("q_cluster"))),
        "query_id")
    adcTop3(codes.join(broadcast(lt), Seq("j", "code"))
      .filter(col("cluster") === col("q_cluster")
        && col("vec_id") =!= col("query_id")))
  }

  /** Matryoshka-style adaptive retrieval (Kusupati et al. 2022,
    * public): shortlist with the first 16 dims (a 4× cheaper scan —
    * MRL-trained embeddings front-load information, so the prefix
    * is itself a usable embedding), then re-rank ONLY the shortlist
    * with exact full-dimension cosine. Stage 1 is the q56
    * broadcast-probe map at quarter width with a bounded top-10
    * aggregate; stage 2 touches ≤ 10 vectors per query. At 100 TB
    * stage 1 is the only corpus pass and it reads a quarter of the
    * vector bytes (columnar prefix slice). */
  private[pipeline] def mrlRerankTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopK
    val ed = edOf(Tables.t(s, dir, "embeddings"))
      .withColumn("pv", slice(col("ev"), 1, 16))
    val isQ = col("vec_id") < 10
    val q = ed.filter(isQ).select(col("vec_id").as("query_id"),
      col("ev").as("qv"), col("pv").as("qp"),
      sqrt(VecMath.vec_dot(col("ev"), col("ev"))).as("qn"),
      sqrt(VecMath.vec_dot(col("pv"), col("pv"))).as("qpn"))
    val shortlist = ed
      .crossJoin(broadcast(q.select(col("query_id"), col("qp"), col("qpn"))))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("ps", round(VecMath.vec_dot(col("pv"), col("qp"))
        / (sqrt(VecMath.vec_dot(col("pv"), col("pv"))) * col("qpn")), 6))
      .groupBy(col("query_id"))
      .agg(TopK.topK(10)(col("ps"), col("vec_id")).as("top"))
      .select(col("query_id"), explode(col("top")).as("c"))
      .select(col("query_id"), col("c.id").as("vec_id"))
    shortlist
      .join(ed.select(col("vec_id"), col("ev"),
        sqrt(VecMath.vec_dot(col("ev"), col("ev"))).as("en")), "vec_id")
      .join(broadcast(q.select(col("query_id"), col("qv"), col("qn"))),
        "query_id")
      .withColumn("score", round(VecMath.vec_dot(col("ev"), col("qv"))
        / (col("en") * col("qn")), 6))
      .groupBy(col("query_id"))
      .agg(TopK.topK(3)(col("score"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("vec_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("int").as("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication" — public paper): cluster the corpus embeddings
    * with k-means, compare cosine similarity ONLY within each
    * cluster, and drop every vector that has a lower-id near-twin
    * (cosine ≥ tau) in its cluster. Output is the full corpus
    * annotated with (cluster, dup_of, kept) — the keep-list a
    * training-mix builder consumes.
    *
    * Single-pass variant: a vector is dropped when ANY lower-id
    * cluster-mate is within tau (the paper's per-group
    * keep-one-representative with id-ordered determinism). The
    * clusters make this scale: the pair space is Σ|c|² — with
    * k ≈ N/targetClusterSize it is N·targetClusterSize, linear in the
    * corpus, never the all-pairs N². Plan shape: one k-means fit
    * (centroids broadcast — see [[kmeansClusters]]; at 100 TB you fit
    * on a sample and run the assign-only `updates = 0` pass), one
    * hash-partition self-join on the cluster key, one left join back.
    * The assignment is localCheckpoint'd so the three consumers
    * (both self-join sides + the annotate join) don't re-run Lloyd's.
    */
  /** Measured flat↔two-level crossing (PLANS.md r10 two-level
    * tables): on clustered corpora the two-level assignment wins
    * from k ≈ 800 (amortizes by k = 2000: 323 s → 39 s, identical
    * keep-list); below that — and on adversarial isotropic data,
    * where routing margins concentrate — the exact flat pass wins.
    * [[routeSuperK]] encodes the decision so callers need not know
    * the probe tables. */
  private[pipeline] val twoLevelThreshold = 800

  /** Auto-routing: 0 (exact flat) below the measured threshold, else
    * two-level with superK = √k — the shape both r10 probe rows used
    * (28 at k = 800, 89 at k = 8000) and the Θ(N·2√k) optimum of the
    * two-level FLOP count. */
  private[pipeline] def routeSuperK(k: Int): Int =
    if (k < twoLevelThreshold) 0
    else math.max(2, math.round(math.sqrt(k.toDouble)).toInt)

  def semDedup(s: SparkSession, dir: String, k: Int = 8, updates: Int = 2,
      tau: Double = 0.25, superK: Int = -1, nProbe: Int = 1): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    // superK >= 2 switches the assignment from the exact flat pass
    // (Θ(N·k) FLOPs — the bottleneck once k ∝ N, PLANS.md r9) to the
    // two-level Θ(N·(superK + nProbe·k/superK)) routing. The fit is
    // identical either way; only the corpus-wide assignment differs,
    // and only approximately (boundary vectors may route to a
    // non-probed super — the documented IVF recall trade, monotone
    // in nProbe). superK = 0 forces the exact flat pass (the oracle
    // pin — q167 passes it explicitly);
    // the DEFAULT (-1) auto-routes on the measured threshold, so a
    // caller at k = 2000 gets the 8× assignment win without reading
    // the probe tables. Isotropic-embedding corpora should force
    // flat (the documented adversarial regime for routing). The
    // regime switch is NOT silent (r12 advice): auto-routing into the
    // approximate path logs at WARN so sweeps/regressions can detect
    // an exact→approximate flip without reading this scaladoc.
    val sk = if (superK >= 0) superK else {
      val r = routeSuperK(k)
      if (r > 1) org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"semDedup auto-routed to APPROXIMATE two-level assignment " +
          s"(k=$k >= $twoLevelThreshold, superK=$r, nProbe=$nProbe); " +
          "boundary vectors may misroute — pass superK = 0 to force " +
          "the exact flat pass")
      r
    }
    // r17 OPT: the exact flat route attaches the cluster as a
    // projection (no assignment join back on vec_id); r18 (verdict
    // item 8): the two-level route does too — withClusterTwoLevel
    // keeps cluster on the vector row, so the former N-row
    // assignment ⋈ embeddings join-back is gone
    val clustered = (if (sk <= 1)
        withClusterLit(e.select(col("vec_id"), col("embedding")),
          kmeansCentroids(e, k, updates))
      else withClusterTwoLevel(s,
          e.select(col("vec_id"), col("embedding"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("ev")),
          kmeansCentroids(e, k, updates), sk, nProbe = nProbe)
        .drop("ev"))
      .select(col("vec_id"), col("cluster"), col("embedding"),
        normExpr("embedding").as("nrm"))
      .localCheckpoint()
    val a = clustered.select(col("vec_id").as("a_id"),
      col("cluster").as("a_cluster"), col("embedding").as("qv"),
      col("nrm").as("a_nrm"))
    val b = clustered.select(col("vec_id").as("b_id"),
      col("cluster").as("b_cluster"), col("embedding").as("ev"),
      col("nrm").as("b_nrm"))
    val dot = VecMath.vec_dot(col("qv"), col("ev"))
    val dups = a.join(b, col("a_cluster") === col("b_cluster")
        && col("a_id") < col("b_id"))
      .withColumn("score", round(dot / (col("a_nrm") * col("b_nrm")), 6))
      .filter(col("score") >= tau)
      .groupBy(col("b_id")).agg(min(col("a_id")).as("dup_of"))
    clustered.join(dups, col("vec_id") === col("b_id"), "left")
      .select(col("vec_id"), col("cluster").cast("int").as("cluster"),
        col("dup_of"),
        when(col("dup_of").isNull, 1).otherwise(0).cast("int").as("kept"))
      .orderBy(col("vec_id"))
  }

  /** The PAPER's keep strategy (SemDeDup §2: within each duplicate
    * group keep the example with LOW similarity to the cluster
    * centroid — the most atypical member survives, preserving
    * diversity). Same cluster-bounded pair space as [[semDedup]];
    * what changes is the precedence order: instead of lowest vec_id
    * winning, members rank by (centroid-cosine ASC, vec_id ASC) and a
    * vector is dropped when a near-twin (cosine ≥ tau) PRECEDES it in
    * that order. Centroid = the per-cluster mean (one
    * posexplode + (cluster, dim) partial-agg pass, rounded 6 dp/dim
    * so either engine replays it). Output: (vec_id, cluster,
    * centroid_sim, kept). */
  def semDedupKeepAtypical(s: SparkSession, dir: String, k: Int = 8,
      updates: Int = 2, tau: Double = 0.25): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    // r17 OPT: projection-attached cluster (see semDedup)
    val clustered = withClusterLit(e.select(col("vec_id"), col("embedding")),
        kmeansCentroids(e, k, updates))
      .select(col("vec_id"), col("cluster"), col("embedding"),
        normExpr("embedding").as("nrm"))
      .localCheckpoint()
    val centroids = clustered
      .select(col("cluster"),
        posexplode(expr("transform(embedding, x -> CAST(x AS DOUBLE))")))
      .groupBy(col("cluster"), col("pos"))
      .agg(round(avg(col("col")), 6).as("c"))
      .groupBy(col("cluster"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
        .as("cv"))
    val scored = clustered.join(broadcast(centroids), "cluster")
      .withColumn("centroid_sim", round(
        VecMath.vec_dot(col("embedding"), col("cv"))
          / (col("nrm") * VecMath.vec_norm(col("cv"))), 6))
      .select(col("vec_id"), col("cluster"), col("embedding"), col("nrm"),
        col("centroid_sim"))
    val a = scored.select(col("vec_id").as("a_id"),
      col("cluster").as("a_cluster"), col("embedding").as("qv"),
      col("nrm").as("a_nrm"), col("centroid_sim").as("a_cs"))
    val b = scored.select(col("vec_id").as("b_id"),
      col("cluster").as("b_cluster"), col("embedding").as("ev"),
      col("nrm").as("b_nrm"), col("centroid_sim").as("b_cs"))
    // a precedes b in (centroid_sim ASC, vec_id ASC)
    val precedes = col("a_cs") < col("b_cs") ||
      (col("a_cs") === col("b_cs") && col("a_id") < col("b_id"))
    val dropped = a.join(b, col("a_cluster") === col("b_cluster")
        && col("a_id") =!= col("b_id") && precedes)
      .withColumn("score", round(VecMath.vec_dot(col("qv"), col("ev"))
        / (col("a_nrm") * col("b_nrm")), 6))
      .filter(col("score") >= tau)
      .select(col("b_id")).distinct()
      .withColumn("hit", lit(1))
    scored.join(dropped, col("vec_id") === col("b_id"), "left")
      .select(col("vec_id"), col("cluster").cast("int").as("cluster"),
        col("centroid_sim"),
        when(col("hit").isNull, 1).otherwise(0).cast("int").as("kept"))
      .orderBy(col("vec_id"))
  }

  /** The same IVF plan with MLlib's KMeans doing the fit (the
    * interop path a production user would take; `model.transform` is
    * the nearest-centroid assignment). Not SQL-oracle-checkable —
    * DuckDB cannot re-run MLlib — so SimilaritySpec asserts stage-2
    * exactness against an in-cluster brute force instead. */
  def ivfKMeansMllib(s: SparkSession, dir: String, k: Int = 8, seed: Long = 7L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val e = Tables.t(s, dir, "embeddings")
      .withColumn("features", array_to_vector(col("embedding")))
    val model = new KMeans().setK(k).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("cluster")
      .fit(e)
    val assigned = model.transform(e)
      .select(col("vec_id"), col("cluster"), col("embedding"))
    val probes = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("cluster").as("q_cluster"),
        col("embedding").as("qv"), normExpr("embedding").as("q_nrm"))
    assigned
      .select(col("vec_id"), col("cluster"), col("embedding").as("ev"),
        normExpr("embedding").as("e_nrm"))
      .join(broadcast(probes), col("cluster") === col("q_cluster")
        && col("vec_id") =!= col("query_id"))
      .withColumn("score", round(VecMath.vec_dot(col("qv"), col("ev"))
        / (col("q_nrm") * col("e_nrm")), 6))
      .groupBy(col("query_id"))
      .agg(TopK.topK(3)(col("score"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("vec_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("int").as("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** DuckDB replay of the deterministic Lloyd's fit in
    * [[kmeansClusters]]: init = the first k vectors, `updates`
    * update iterations, 6-dp rounding each step, ties to lowest
    * cluster id. Generates the assign/update CTE chain for the
    * same (k, updates) the Spark side fits with. Ends
    * in `a{updates+1}(vec_id, cluster)` ([[lloydFin]]) — the exact
    * assignment the Spark side computes. Shared by q135 (IVF
    * routing), q167 (SemDeDup), q173 (keep-atypical). */
  private[pipeline] def duckLloydCtes(k: Int = 8, updates: Int = 2,
      srcWhere: String = ""): String = {
    val sb = new StringBuilder(
      s"""e AS (SELECT vec_id, embedding FROM embeddings $srcWhere),
         |flat AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
         |                unnest(range(len(embedding))) AS i FROM e),
         |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vec_id),
         |c0 AS (SELECT vec_id AS cluster, i, x AS c FROM flat WHERE vec_id < $k)""".stripMargin)
    for (it <- 1 to updates + 1) {
      sb.append(
        s""",
           |d$it AS (SELECT f.vec_id, c.cluster,
           |         round(sum((f.x - c.c) * (f.x - c.c)), 6) AS dist
           |       FROM flat f JOIN c${it - 1} c ON c.i = f.i GROUP BY 1, 2),
           |a$it AS (SELECT vec_id, cluster FROM (
           |         SELECT vec_id, cluster, row_number() OVER (
           |           PARTITION BY vec_id ORDER BY dist, cluster) AS rk FROM d$it)
           |       WHERE rk = 1)""".stripMargin)
      if (it <= updates) sb.append(
        s""",
           |c$it AS (SELECT a.cluster, f.i, round(avg(f.x), 6) AS c
           |       FROM a$it a JOIN flat f ON f.vec_id = a.vec_id GROUP BY 1, 2)""".stripMargin)
    }
    sb.toString
  }

  /** Name of the final assignment CTE emitted by [[duckLloydCtes]]. */
  private def lloydFin(updates: Int = 2): String = s"a${updates + 1}"

  /** DuckDB CTE chain replaying the PQ model over the `(vec_id, i, x)`
    * rows of `src`: subvector split → codebook fit (first-4 init, one
    * Lloyd update, 6-dp rounding, ties to lowest code) → corpus codes
    * (`pcodes`) → per-query ADC lookup tables (`plt`, queries =
    * vec_id < 10). ONE emitter shared by q186/q190/q194 — three
    * hand-maintained copies of this chain could silently diverge on a
    * tie-break or rounding fix (the duckLloydCtes argument). */
  private def duckPqCtes(src: String): String =
    s"""sub AS (SELECT vec_id, i // 16 AS j, i % 16 AS si, x FROM $src),
       |pcb0 AS (SELECT j, vec_id AS code, si, x AS c FROM sub WHERE vec_id < 4),
       |pd1 AS (SELECT s.vec_id, s.j, c.code,
       |         round(sum((s.x - c.c) * (s.x - c.c)), 6) AS dist
       |       FROM sub s JOIN pcb0 c ON c.j = s.j AND c.si = s.si
       |       GROUP BY 1, 2, 3),
       |pa1 AS (SELECT vec_id, j, code FROM (
       |         SELECT vec_id, j, code, row_number() OVER (
       |           PARTITION BY vec_id, j ORDER BY dist, code) AS rk FROM pd1)
       |       WHERE rk = 1),
       |pcb1 AS (SELECT s.j, a.code, s.si, round(avg(s.x), 6) AS c
       |        FROM pa1 a JOIN sub s ON s.vec_id = a.vec_id AND s.j = a.j
       |        GROUP BY 1, 2, 3),
       |pd2 AS (SELECT s.vec_id, s.j, c.code,
       |         round(sum((s.x - c.c) * (s.x - c.c)), 6) AS dist
       |       FROM sub s JOIN pcb1 c ON c.j = s.j AND c.si = s.si
       |       GROUP BY 1, 2, 3),
       |pcodes AS (SELECT vec_id, j, code FROM (
       |         SELECT vec_id, j, code, row_number() OVER (
       |           PARTITION BY vec_id, j ORDER BY dist, code) AS rk FROM pd2)
       |       WHERE rk = 1),
       |plt AS (SELECT s.vec_id AS query_id, s.j, c.code,
       |         round(sum((s.x - c.c) * (s.x - c.c)), 6) AS d
       |       FROM sub s JOIN pcb1 c ON c.j = s.j AND c.si = s.si
       |       WHERE s.vec_id < 10
       |       GROUP BY 1, 2, 3)""".stripMargin

  /** The j-pivoted order-deterministic ADC sum over `pcodes t` ⋈
    * `plt l` rows. */
  private val duckAdcSum: String =
    """round(sum(CASE WHEN t.j = 0 THEN l.d ELSE 0 END)
      |             + sum(CASE WHEN t.j = 1 THEN l.d ELSE 0 END)
      |             + sum(CASE WHEN t.j = 2 THEN l.d ELSE 0 END)
      |             + sum(CASE WHEN t.j = 3 THEN l.d ELSE 0 END), 6)""".stripMargin

  /** The flat `(vec_id, i, x)` row source PQ consumes when quantizing
    * RAW coordinates (q186/q190). */
  private val duckPqRawSrc: String =
    """(SELECT vec_id, unnest(embedding)::DOUBLE AS x,
      |                unnest(range(len(embedding))) AS i FROM e)""".stripMargin

  /** Product-quantization ANN (Jégou/Douze/Schmid 2011, "Product
    * quantization for nearest neighbor search" — public): compress
    * every 64-dim embedding to m = 4 subspace codes (ks = 4 codewords
    * per subspace; per-subspace Lloyd's with the q135 deterministic
    * conventions — init = the first ks vectors' subvectors, one
    * update, 6-dp rounding, ties to the lowest code) and answer
    * top-k by ASYMMETRIC DISTANCE: a query precomputes its m × ks
    * lookup table of exact subspace distances to every codeword, and
    * a database vector's approximate distance is the j-ordered sum
    * of 4 table lookups — 4 adds per candidate instead of a 64-float
    * scan. This is the MEMORY side of the ANN scale story (IVF/
    * two-level cut the candidate COUNT, PQ cuts bytes-per-candidate):
    * the codes table is 4 small ints per vector vs 256 raw bytes, so
    * a 100 TB corpus's index stays executor-resident. Plan shape:
    * codes × broadcast(lookup tables) equi-join on (j, code) with a
    * map-side-combined per-(query, vector) sum; the corpus never
    * shuffles raw vectors for scoring. Fixed-query regime (q135's
    * vec_id < 10 convention). */
  private val pqM = 4; private val pqKs = 4; private val pqSubDim = 16

  /** The PQ model pieces shared by q186 (ADC over the whole corpus)
    * and q190 (IVF-PQ): subvector table, trained codebooks, and the
    * corpus code table. */
  private[pipeline] def pqModel(ed: DataFrame): (DataFrame, DataFrame, DataFrame) =
    pqModelP(ed, pqM, pqKs, pqSubDim)

  /** [[pqModel]] with the geometry as ARGUMENTS (r16 verdict item on
    * AnnIndex's fixture-scale constants): `m` subspaces of `subDim`
    * dims, `ks` codewords per subspace. Same deterministic recipe at
    * any size — first-`ks`-vectors init, one Lloyd update, 6-dp
    * rounding, ties to the lowest code. The q186/q190 defaults are
    * pqM/pqKs/pqSubDim, so every oracle-gated query is untouched.
    *
    * @param passThrough r18 OPT (guide §2.4, the r17 "Not yet
    *   optimized" item 1): extra `ed` columns carried through the
    *   code PROJECTION into the returned code table — q190/q194
    *   previously joined the coarse assignment back onto the codes on
    *   vec_id, an (N·m)-row exchange the per-row kernel makes
    *   unnecessary. Values are untouched (the fit never reads them).
    *
    * With no `vec_id < ks` rows there is no codebook: the codebook and
    * code frames come back empty. */
  private[pipeline] def pqModelP(ed: DataFrame, m: Int, ks: Int,
      subDim: Int, passThrough: Seq[String] = Nil)
      : (DataFrame, DataFrame, DataFrame) = {
    // (vec_id, j, sv): the m subvectors — a pure map, no shuffle
    val svs = ed.select(col("vec_id"), explode(array(
        (0 until m).map(j => struct(lit(j).as("j"),
          slice(col("ev"), j * subDim + 1, subDim).as("sv"))): _*)).as("p"))
      .select(col("vec_id"), col("p.j").as("j"), col("p.sv").as("sv"))
    // r17 OPT (guide §2.4): both codeword assignment passes run the
    // per-row kernel against the collected (m·ks)-row codebook. The
    // pre-r17 form paid, per pass, an svs × broadcast(cb) explosion
    // plus an (N·m)-row groupBy(vec_id, j) exchange, and the codebook
    // update joined the codes BACK to svs on (vec_id, j) — a further
    // (N·m)-row exchange; all three are projections now, and the only
    // remaining exchange of the fit is the bounded-key (j, code, si —
    // map-side-combined) codeword-mean aggregation.
    val ptCols = passThrough.map(col(_))
    // per-row (vec_id, [passThrough...,] j, code, sv) against a
    // collected codebook
    def coded(cb: Map[Int, CentArr]): DataFrame =
      ed.select((col("vec_id") +: ptCols :+
        explode(array((0 until m).map(j =>
          struct(lit(j).as("j"),
            VecMath.vec_nearest_index(slice(col("ev"), j * subDim + 1, subDim),
              cb.getOrElse(j, Array.empty[(Long, Seq[Double])]).toSeq)
              .as("code"),
            slice(col("ev"), j * subDim + 1, subDim).as("sv"))): _*)).as("p")): _*)
        .select((col("vec_id") +: ptCols :+ col("p.j").as("j") :+
          col("p.code").as("code") :+ col("p.sv").as("sv")): _*)
    val cb0 = collectCodebook(svs.filter(col("vec_id") < ks)
      .select(col("j"), col("vec_id").as("code"), col("sv").as("cv")))
    val cb1 = if (cb0.isEmpty) cb0 else collectCodebook(coded(cb0)
      .select(col("j"), col("code"), posexplode(col("sv")).as(Seq("si", "x")))
      .groupBy(col("j"), col("code"), col("si"))
      .agg(round(avg(col("x")), 6).as("c"))
      .groupBy(col("j"), col("code"))
      .agg(expr("transform(array_sort(collect_list(struct(si, c))), s -> s.c)")
        .as("cv")))
    val codes = coded(cb1)
      .select((col("vec_id") +: ptCols :+ col("j") :+ col("code")): _*)
    // cb1 as a LITERAL local table: its two consumers (pqLookup's
    // broadcast join, AnnIndex.save's model write) replay no fit
    // lineage
    (svs,
      modelFrame(ed.sparkSession, cb1.toSeq.sortBy(_._1).flatMap {
        case (j, rows) => rows.map(r => Row(j, r._1, r._2))
      }, "j" -> IntegerType, "code" -> LongType),
      if (cb1.isEmpty) codes.limit(0) else codes)
  }

  /** Per-query ADC lookup tables: (query_id, j, code, d) — m × ks
    * exact subspace distances per query, broadcast-sized. */
  private def pqLookup(svs: DataFrame, cb1: DataFrame): DataFrame =
    svs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("j"), col("sv"))
      .join(broadcast(cb1), "j")
      .select(col("query_id"), col("j"), col("code"),
        round(VecMath.vec_sq_dist(col("sv"), col("cv")), 6).as("d"))

  /** (query_id, vec_id, adist) → bounded top-3 rows per query.
    * The j-pivoted fixed-order sum keeps the 4-term fp fold
    * order-deterministic on both engines (the BM25 sorted-fold
    * argument, cheaper here). */
  private def adcTop3(pairs: DataFrame, m: Int = pqM): DataFrame = {
    import graft.functions.TopK
    pairs
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(when(col("j") === 0, col("d")).otherwise(0.0)).as("d0"),
        (1 until m).map(j =>
          sum(when(col("j") === j, col("d")).otherwise(0.0)).as(s"d$j")): _*)
      .select(col("query_id"), col("vec_id"),
        round((0 until m).map(j => col(s"d$j")).reduce(_ + _), 6).as("adist"))
      .groupBy(col("query_id"))
      .agg(TopK.topK(3)(-col("adist"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("vec_id"),
        (-col("col.score")).as("adist"), (col("pos") + 1).cast("int").as("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  private[pipeline] def pqAdcTopK(s: SparkSession, dir: String): DataFrame = {
    val (svs, cb1, codes) = pqModel(edOf(Tables.t(s, dir, "embeddings")))
    val lt = pqLookup(svs, cb1)
    adcTop3(codes.filter(col("vec_id") >= 10)
      .join(broadcast(lt), Seq("j", "code")))
  }

  /** IVF-PQ (the deployed FAISS-style composition): the coarse
    * k-means router (q135) bounds the CANDIDATE COUNT to one
    * cluster's members while PQ codes (q186) bound the
    * BYTES-PER-CANDIDATE to 4 lookup adds — together the index is
    * small enough to stay resident AND the scan per query is a
    * cluster, not the corpus. Non-residual variant (codes quantize
    * the raw vectors, not x − centroid; residual encoding is the
    * FAISS refinement and changes only the codebook input).
    * Plan: the (cluster, codes) join materializes the index — at
    * rest, production stores it that way — and scoring is
    * index × broadcast(query lookup tables ⋈ query clusters). */
  private[pipeline] def ivfPqTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    // r18 OPT (guide §2.4 — the r17 "Not yet optimized" item 1): the
    // coarse cluster attaches to the embedding row as a per-row
    // kernel PROJECTION and rides the code projection via passThrough;
    // the pre-r18 plan joined the (vec_id, cluster) assignment back
    // onto the (N·m)-row code table — a full-index exchange. Same
    // kernel as assignFlat, so values are identical.
    val cent = kmeansCentroids(e, 8, 2)
    val ed = edOf(e)
    val edc = withClusterFlat(ed, cent, col("ev"))
    val (svs, cb1, codes) = pqModelP(edc, pqM, pqKs, pqSubDim,
      passThrough = Seq("cluster"))
    val lt = pqLookup(svs, cb1)
      .join(broadcast(edc.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("cluster").as("q_cluster"))),
        "query_id")
    adcTop3(codes.join(broadcast(lt), Seq("j", "code"))
      .filter(col("cluster") === col("q_cluster")
        && col("vec_id") =!= col("query_id")))
  }

  override def queries: Seq[QueryDef] = Seq(

    // ----- IVF with a real k-means fit, fully oracle-checked: the
    // deterministic Lloyd's (init = first 8 vectors, 2 update
    // iterations, 6-dp rounding, ties to lowest cluster id) is
    // replayed step-by-step in DuckDB, so fit + routing + stage-2
    // top-k all hash-match. -----
    q("q135_ann_ivf_kmeans",
      s"""WITH ${duckLloydCtes()},
        |scored AS (
        |  SELECT p.vec_id AS query_id, b.vec_id AS vec_id,
        |    round(sum(fa.x * fb.x) / (na.nrm * nb.nrm), 6) AS score
        |  FROM a3 p JOIN a3 b ON b.cluster = p.cluster AND b.vec_id <> p.vec_id
        |  JOIN flat fa ON fa.vec_id = p.vec_id
        |  JOIN flat fb ON fb.vec_id = b.vec_id AND fb.i = fa.i
        |  JOIN norms na ON na.vec_id = p.vec_id
        |  JOIN norms nb ON nb.vec_id = b.vec_id
        |  WHERE p.vec_id < 10
        |  GROUP BY p.vec_id, b.vec_id, na.nrm, nb.nrm),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, vec_id) AS rn FROM scored)
        |SELECT query_id, vec_id, score, CAST(rn AS INTEGER) AS rn
        |FROM ranked WHERE rn <= 3
        |ORDER BY query_id, rn""") { (s, dir) => ivfKMeans(s, dir) },

    // ----- product quantization + asymmetric distance (Jégou 2011):
    // the memory side of the ANN scale path — 4 subspace codes per
    // vector, per-subspace deterministic Lloyd's codebooks, queries
    // score candidates by 4 lookup-table adds. The oracle replays
    // codebook fit, encoding, lookup tables, and the j-ordered ADC
    // sum, so the approximation itself hash-matches. -----
    q("q186_pq_adc_topk",
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |${duckPqCtes(duckPqRawSrc)},
        |sc AS (SELECT l.query_id, t.vec_id,
        |         $duckAdcSum AS adist
        |       FROM pcodes t JOIN plt l ON l.j = t.j AND l.code = t.code
        |       WHERE t.vec_id >= 10
        |       GROUP BY 1, 2),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |             ORDER BY adist, vec_id) AS rn FROM sc)
        |SELECT query_id, vec_id, adist, CAST(rn AS INTEGER) AS rn
        |FROM ranked WHERE rn <= 3
        |ORDER BY query_id, rn""") { (s, dir) => pqAdcTopK(s, dir) },

    // ----- hard-negative mining: per anchor, the top-3 most cosine-
    // similar vectors OUTSIDE its k-means cluster — q135's probe
    // shape with the cluster predicate inverted. -----
    q("q188_hard_negatives",
      s"""WITH ${duckLloydCtes()},
        |scored AS (
        |  SELECT p.vec_id AS query_id, b.vec_id AS vec_id,
        |    round(sum(fa.x * fb.x) / (na.nrm * nb.nrm), 6) AS score
        |  FROM a3 p JOIN a3 b ON b.cluster <> p.cluster
        |  JOIN flat fa ON fa.vec_id = p.vec_id
        |  JOIN flat fb ON fb.vec_id = b.vec_id AND fb.i = fa.i
        |  JOIN norms na ON na.vec_id = p.vec_id
        |  JOIN norms nb ON nb.vec_id = b.vec_id
        |  WHERE p.vec_id < 10
        |  GROUP BY p.vec_id, b.vec_id, na.nrm, nb.nrm),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, vec_id) AS rn FROM scored)
        |SELECT query_id, vec_id, score, CAST(rn AS INTEGER) AS rn
        |FROM ranked WHERE rn <= 3
        |ORDER BY query_id, rn""") { (s, dir) => hardNegatives(s, dir) },

    // ----- int8 scalar quantization + fidelity report: per-vector
    // scale = max|x|/127, clamp-rounded codes, cosine(original,
    // reconstruction) — the 4x embedding-store compression gate. -----
    q("q189_int8_quantize",
      """WITH flat AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x
        |              FROM embeddings),
        |sc AS (SELECT vec_id, greatest(round(max(abs(x)) / 127, 6), 0.000001) AS scale
        |       FROM flat GROUP BY vec_id),
        |qr AS (SELECT f.vec_id, s.scale, f.x,
        |         least(127, greatest(-127, round(f.x / s.scale, 0))) * s.scale AS r
        |       FROM flat f JOIN sc s USING (vec_id))
        |SELECT vec_id, any_value(scale) AS scale,
        |  round(sum(x * r) / (sqrt(sum(x * x)) * sqrt(sum(r * r))), 6) AS cos_sim
        |FROM qr GROUP BY vec_id ORDER BY vec_id""") { (s, dir) =>
      int8Quantize(s, dir)
    },

    // ----- IVF-PQ: the deployed composition — coarse k-means routing
    // bounds candidates to the query's cluster, PQ-ADC scores them
    // with 4 lookup adds each. The oracle replays BOTH models (the
    // full-dim Lloyd's AND the per-subspace codebooks) plus the
    // cluster-gated ADC sum. -----
    q("q190_ivfpq_topk",
      s"""WITH ${duckLloydCtes()},
        |${duckPqCtes(duckPqRawSrc)},
        |sc AS (SELECT l.query_id, t.vec_id,
        |         $duckAdcSum AS adist
        |       FROM pcodes t
        |       JOIN plt l ON l.j = t.j AND l.code = t.code
        |       JOIN a3 ct ON ct.vec_id = t.vec_id
        |       JOIN a3 cq ON cq.vec_id = l.query_id AND cq.cluster = ct.cluster
        |       WHERE t.vec_id <> l.query_id
        |       GROUP BY 1, 2),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |             ORDER BY adist, vec_id) AS rn FROM sc)
        |SELECT query_id, vec_id, adist, CAST(rn AS INTEGER) AS rn
        |FROM ranked WHERE rn <= 3
        |ORDER BY query_id, rn""") { (s, dir) => ivfPqTopK(s, dir) },

    // ----- RESIDUAL IVF-PQ (FAISS IndexIVFPQ's actual encoding):
    // codes quantize x − c(cluster), so the codebooks spend their
    // entire capacity on within-cluster displacements. Oracle =
    // q190's replay with one residual-subtraction layer between the
    // coarse fit and the PQ chain. -----
    q("q194_ivfpq_residual_topk",
      s"""WITH ${duckLloydCtes()},
        |rsub AS (SELECT f.vec_id, f.i, f.x - c.c AS x
        |         FROM flat f JOIN a3 a ON a.vec_id = f.vec_id
        |         JOIN c2 c ON c.cluster = a.cluster AND c.i = f.i),
        |${duckPqCtes("rsub")},
        |sc AS (SELECT l.query_id, t.vec_id,
        |         $duckAdcSum AS adist
        |       FROM pcodes t
        |       JOIN plt l ON l.j = t.j AND l.code = t.code
        |       JOIN a3 ct ON ct.vec_id = t.vec_id
        |       JOIN a3 cq ON cq.vec_id = l.query_id AND cq.cluster = ct.cluster
        |       WHERE t.vec_id <> l.query_id
        |       GROUP BY 1, 2),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |             ORDER BY adist, vec_id) AS rn FROM sc)
        |SELECT query_id, vec_id, adist, CAST(rn AS INTEGER) AS rn
        |FROM ranked WHERE rn <= 3
        |ORDER BY query_id, rn""") { (s, dir) => ivfPqResidualTopK(s, dir) },

    // ----- Matryoshka adaptive retrieval: prefix-dim (16 of 64)
    // shortlist of 10, exact full-dim re-rank to top-3 — the scan
    // reads a quarter of the vector bytes, the exact pass touches
    // ≤ 10 vectors per query. -----
    q("q195_mrl_rerank_topk",
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |flat AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |                unnest(range(len(embedding))) AS i FROM e),
        |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vec_id),
        |pnorm AS (SELECT vec_id, sqrt(sum(x * x)) AS pn FROM flat
        |          WHERE i < 16 GROUP BY vec_id),
        |ps AS (SELECT p.vec_id AS query_id, b.vec_id AS vec_id,
        |    round(sum(fa.x * fb.x) / (na.pn * nb.pn), 6) AS ps
        |  FROM e p JOIN e b ON b.vec_id <> p.vec_id
        |  JOIN flat fa ON fa.vec_id = p.vec_id AND fa.i < 16
        |  JOIN flat fb ON fb.vec_id = b.vec_id AND fb.i = fa.i
        |  JOIN pnorm na ON na.vec_id = p.vec_id
        |  JOIN pnorm nb ON nb.vec_id = b.vec_id
        |  WHERE p.vec_id < 10
        |  GROUP BY p.vec_id, b.vec_id, na.pn, nb.pn),
        |short AS (SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY ps DESC, vec_id) AS rk FROM ps) WHERE rk <= 10),
        |fullsc AS (SELECT s.query_id, s.vec_id,
        |    round(sum(fa.x * fb.x) / (na.nrm * nb.nrm), 6) AS score
        |  FROM short s
        |  JOIN flat fa ON fa.vec_id = s.query_id
        |  JOIN flat fb ON fb.vec_id = s.vec_id AND fb.i = fa.i
        |  JOIN norms na ON na.vec_id = s.query_id
        |  JOIN norms nb ON nb.vec_id = s.vec_id
        |  GROUP BY s.query_id, s.vec_id, na.nrm, nb.nrm),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, vec_id) AS rn FROM fullsc)
        |SELECT query_id, vec_id, score, CAST(rn AS INTEGER) AS rn
        |FROM ranked WHERE rn <= 3
        |ORDER BY query_id, rn""") { (s, dir) => mrlRerankTopK(s, dir) },

    // ----- SemDeDup: k-means clusters bound the cosine pair space,
    // every vector with a lower-id near-twin (cosine ≥ 0.25) in its
    // cluster is dropped. The oracle replays the identical Lloyd's
    // fit, so cluster assignment, pair scores, and the keep-list all
    // hash-match. -----
    q("q167_semdedup",
      s"""WITH ${duckLloydCtes()},
        |pairs AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    round(sum(fa.x * fb.x) / (na.nrm * nb.nrm), 6) AS score
        |  FROM ${lloydFin()} a JOIN ${lloydFin()} b
        |    ON b.cluster = a.cluster AND a.vec_id < b.vec_id
        |  JOIN flat fa ON fa.vec_id = a.vec_id
        |  JOIN flat fb ON fb.vec_id = b.vec_id AND fb.i = fa.i
        |  JOIN norms na ON na.vec_id = a.vec_id
        |  JOIN norms nb ON nb.vec_id = b.vec_id
        |  GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm),
        |dups AS (SELECT b_id, min(a_id) AS dup_of FROM pairs
        |         WHERE score >= 0.25 GROUP BY b_id)
        |SELECT a.vec_id, CAST(a.cluster AS INTEGER) AS cluster, d.dup_of,
        |  CAST(CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
        |FROM ${lloydFin()} a LEFT JOIN dups d ON d.b_id = a.vec_id
        |ORDER BY a.vec_id""") { (s, dir) =>
      // superK = 0: the exact flat assignment the oracle replays
      semDedup(s, dir, superK = 0)
    },

    // ----- the PAPER's keep strategy: duplicate groups keep their
    // most atypical member (lowest centroid-cosine), preserving
    // diversity. Precedence = (centroid_sim ASC, vec_id ASC); the
    // oracle replays fit + per-cluster centroids + precedence. -----
    q("q173_semdedup_keep_atypical",
      s"""WITH ${duckLloydCtes()},
        |c4 AS (SELECT a.cluster, f.i, round(avg(f.x), 6) AS c
        |       FROM a3 a JOIN flat f ON f.vec_id = a.vec_id GROUP BY 1, 2),
        |cn AS (SELECT cluster, sqrt(sum(c * c)) AS cnrm FROM c4 GROUP BY cluster),
        |cs AS (SELECT a.vec_id, a.cluster,
        |         round(sum(f.x * c4.c) / (norms.nrm * cn.cnrm), 6) AS centroid_sim
        |       FROM a3 a JOIN flat f ON f.vec_id = a.vec_id
        |       JOIN c4 ON c4.cluster = a.cluster AND c4.i = f.i
        |       JOIN norms ON norms.vec_id = a.vec_id
        |       JOIN cn ON cn.cluster = a.cluster
        |       GROUP BY a.vec_id, a.cluster, norms.nrm, cn.cnrm),
        |pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    round(sum(fa.x * fb.x) / (na.nrm * nb.nrm), 6) AS score
        |  FROM cs a JOIN cs b ON b.cluster = a.cluster AND a.vec_id <> b.vec_id
        |    AND (a.centroid_sim < b.centroid_sim
        |         OR (a.centroid_sim = b.centroid_sim AND a.vec_id < b.vec_id))
        |  JOIN flat fa ON fa.vec_id = a.vec_id
        |  JOIN flat fb ON fb.vec_id = b.vec_id AND fb.i = fa.i
        |  JOIN norms na ON na.vec_id = a.vec_id
        |  JOIN norms nb ON nb.vec_id = b.vec_id
        |  GROUP BY a.vec_id, b.vec_id, na.nrm, nb.nrm),
        |drp AS (SELECT DISTINCT b_id FROM pairs WHERE score >= 0.25)
        |SELECT s.vec_id, CAST(s.cluster AS INTEGER) AS cluster, s.centroid_sim,
        |  CAST(CASE WHEN d.b_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
        |FROM cs s LEFT JOIN drp d ON d.b_id = s.vec_id
        |ORDER BY s.vec_id""") { (s, dir) => semDedupKeepAtypical(s, dir) },

    q("q56_ann_bruteforce",
      duckCos("a.vec_id < 10", "a.vec_id <> b.vec_id")) { (s, dir) =>
      topk(s, dir, sameLabel = false)
    },

    q("q57_ann_bucketed",
      duckCos("a.vec_id < 10", "a.label = b.label AND a.vec_id <> b.vec_id")) { (s, dir) =>
      topk(s, dir, sameLabel = true)
    },

    // ----- embedding-cosine near-duplicate detection (the vector-side
    // dedup method, complementing MinHash/SimHash text dedup): block by
    // the coarse bucket (label — swap in a quantizer/LSH assignment at
    // will), verify exact cosine only within blocks, keep pairs over
    // the threshold. Block sizes are bounded, so the self-join never
    // goes quadratic in the corpus. τ=0.25 marks "near-dup" at this
    // synthetic data's similarity scale (its true max is ~0.45). -----
    q("q96_embedding_neardup",
      """WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
        |flat AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |                unnest(range(len(embedding))) AS i FROM e),
        |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vec_id),
        |pairs AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, sum(fa.x * fb.x) AS dot
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |  JOIN flat fa ON fa.vec_id = a.vec_id
        |  JOIN flat fb ON fb.vec_id = b.vec_id AND fb.i = fa.i
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT a_id, b_id, round(dot / (na.nrm * nb.nrm), 6) AS score
        |  FROM pairs JOIN norms na ON na.vec_id = a_id
        |             JOIN norms nb ON nb.vec_id = b_id)
        |SELECT a_id, b_id, score FROM scored WHERE score >= 0.25
        |ORDER BY a_id, b_id""") { (s, dir) =>
      // norms are computed ONCE per row before the join — inside the
      // join condition they would re-run per candidate pair (|block|×)
      val e = Tables.t(s, dir, "embeddings").select(col("vec_id"), col("label"),
        col("embedding"), VecMath.vec_norm(col("embedding")).as("nrm"))
      val a = e.select(col("vec_id").as("a_id"), col("label"),
        col("embedding").as("qv"), col("nrm").as("a_nrm"))
      val b = e.select(col("vec_id").as("b_id"), col("label").as("b_label"),
        col("embedding").as("ev"), col("nrm").as("b_nrm"))
      val dot = VecMath.vec_dot(col("qv"), col("ev"))
      a.join(b, col("label") === col("b_label") && col("a_id") < col("b_id"))
        .withColumn("score", round(dot / (col("a_nrm") * col("b_nrm")), 6))
        .filter(col("score") >= 0.25)
        .select(col("a_id"), col("b_id"), col("score"))
        .orderBy(col("a_id"), col("b_id"))
    },

    // ----- STREAMING embedding near-dup at ingest: vectors arrive in
    // vec_id order; each flags its smallest earlier same-block
    // near-duplicate (cosine ≥ 0.25) WITHIN THE 100-SECOND DEDUP
    // HORIZON (ts = vec_id + 1 s, so candidate a needs
    // a_id >= b_id - 100), sealed by the watermark so the result is
    // batching-independent — the vector-side twin of the q136
    // streaming text dedup, with the state bound the unbounded stream
    // needs. -----
    q("q137_stream_embedding_neardup",
      """WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
        |flat AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |                unnest(range(len(embedding))) AS i FROM e),
        |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vec_id),
        |pairs AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, sum(fa.x * fb.x) AS dot
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |    AND a.vec_id >= b.vec_id - 100
        |  JOIN flat fa ON fa.vec_id = a.vec_id
        |  JOIN flat fb ON fb.vec_id = b.vec_id AND fb.i = fa.i
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT a_id, b_id, round(dot / (na.nrm * nb.nrm), 6) AS score
        |  FROM pairs JOIN norms na ON na.vec_id = a_id
        |             JOIN norms nb ON nb.vec_id = b_id)
        |SELECT b_id AS vec_id, min(a_id) AS dup_of
        |FROM scored WHERE score >= 0.25 GROUP BY b_id ORDER BY vec_id""") { (s, dir) =>
      StreamingDedup.embeddingNearDup(s, dir, horizonSeconds = Some(100L))._1
    },

    // ----- the same ingest dedup blocked by random-hyperplane LSH
    // sign buckets instead of the stored label (4 tables × 2
    // hyperplanes, OR-amplified like minhash bands) — the blocking
    // that survives skewed labels: bucket population is set by the
    // hyperplane geometry, not by label popularity. Deterministic
    // hyperplanes (md5-parity signs) + 6-dp-rounded dots let DuckDB
    // replay the exact bucket assignment. -----
    q("q139_stream_vecdedup_lsh",
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |flat AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |                unnest(range(len(embedding))) AS i FROM e),
        |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vec_id),
        |hp AS (SELECT t.j, u.i,
        |         CASE WHEN substring(md5(t.j || ':' || u.i), 1, 1)
        |           IN ('0','2','4','6','8','a','c','e') THEN 1.0 ELSE -1.0 END AS h
        |       FROM (SELECT unnest(range(8)) AS j) t
        |       CROSS JOIN (SELECT DISTINCT i FROM flat) u),
        |dots AS (SELECT f.vec_id, hp.j, round(sum(f.x * hp.h), 6) AS d
        |         FROM flat f JOIN hp ON hp.i = f.i GROUP BY 1, 2),
        |buck AS (SELECT vec_id, j // 2 AS tbl,
        |           sum(CASE WHEN d >= 0 THEN 1 << (j % 2) ELSE 0 END) AS bucket
        |         FROM dots GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        |         FROM buck a JOIN buck b ON a.tbl = b.tbl AND a.bucket = b.bucket
        |           AND a.vec_id < b.vec_id AND a.vec_id >= b.vec_id - 200),
        |scored AS (SELECT c.a_id, c.b_id,
        |             round(sum(fa.x * fb.x) / (na.nrm * nb.nrm), 6) AS score
        |           FROM cand c
        |           JOIN flat fa ON fa.vec_id = c.a_id
        |           JOIN flat fb ON fb.vec_id = c.b_id AND fb.i = fa.i
        |           JOIN norms na ON na.vec_id = c.a_id
        |           JOIN norms nb ON nb.vec_id = c.b_id
        |           GROUP BY c.a_id, c.b_id, na.nrm, nb.nrm)
        |SELECT b_id AS vec_id, min(a_id) AS dup_of FROM scored
        |WHERE score >= 0.25 GROUP BY b_id ORDER BY vec_id""") { (s, dir) =>
      // geometry is the operator's deployment parameter (nlist-style:
      // buckets = signTables × 2^signBits must grow ~log2(corpus) —
      // PLANS.md); the oracle pins 4×2
      StreamingDedup.embeddingNearDup(s, dir, horizonSeconds = Some(200L),
        signTables = 4, signBits = 2)._1
    },

    // ----- IVF-shaped two-stage search: stage 1 routes each probe to
    // the nearest coarse representative (deterministic: the min-vec_id
    // member of each label cluster — swap in k-means centroids without
    // changing the plan); stage 2 scans only that cluster. The corpus
    // side never fans out: probes × clusters is the only extra work. -----
    q("q58b_ann_ivf",
      """WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
        |reps AS (
        |  SELECT label, min(vec_id) AS rep_id FROM e GROUP BY label),
        |flat AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |                unnest(range(len(embedding))) AS i FROM e),
        |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vec_id),
        |probe2rep AS (
        |  SELECT q.vec_id AS query_id, reps.label,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      round(sum(fq.x * fr.x) / (nq.nrm * nr.nrm), 6) DESC, reps.label) AS rk
        |  FROM e q JOIN reps ON true
        |  JOIN flat fq ON fq.vec_id = q.vec_id
        |  JOIN flat fr ON fr.vec_id = reps.rep_id AND fr.i = fq.i
        |  JOIN norms nq ON nq.vec_id = q.vec_id
        |  JOIN norms nr ON nr.vec_id = reps.rep_id
        |  WHERE q.vec_id < 10
        |  GROUP BY q.vec_id, reps.label, nq.nrm, nr.nrm),
        |routed AS (SELECT query_id, label FROM probe2rep WHERE rk = 1),
        |scored AS (
        |  SELECT r.query_id, b.vec_id,
        |    round(sum(fa.x * fb.x) / (na.nrm * nb.nrm), 6) AS score
        |  FROM routed r JOIN e b ON b.label = r.label
        |  JOIN flat fa ON fa.vec_id = r.query_id
        |  JOIN flat fb ON fb.vec_id = b.vec_id AND fb.i = fa.i
        |  JOIN norms na ON na.vec_id = r.query_id
        |  JOIN norms nb ON nb.vec_id = b.vec_id
        |  WHERE b.vec_id <> r.query_id
        |  GROUP BY r.query_id, b.vec_id, na.nrm, nb.nrm),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY score DESC, vec_id) AS rn FROM scored)
        |SELECT query_id, vec_id, score, CAST(rn AS INTEGER) AS rn
        |FROM ranked WHERE rn <= 3
        |ORDER BY query_id, rn""") { (s, dir) =>
      val e = Tables.t(s, dir, "embeddings")
      val reps = e.groupBy(col("label").as("rep_label"))
        .agg(min(col("vec_id")).as("rep_id"))
        .join(e.select(col("vec_id").as("rep_id"), col("embedding").as("ev")), "rep_id")
      val queries = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          normExpr("embedding").as("q_nrm"))
      val wRoute = Window.partitionBy(col("query_id"))
        .orderBy(col("rep_score").desc, col("rep_label"))
      val routed = queries.crossJoin(broadcast(reps))
        .withColumn("rep_score", round(cosCol, 6))
        .withColumn("rk", row_number().over(wRoute))
        .filter(col("rk") === 1)
        .select(col("query_id"), col("qv"), col("q_nrm"), col("rep_label"))
      // stage-2 rank via the bounded partial top-k aggregate (same
      // ordering: score DESC, id ASC) — a window row_number() here
      // would range-shuffle every scored cluster row; the aggregate
      // ships ≤ probes×k rows per task. Norms ride precomputed: the
      // probe's from the routing stage, the corpus row's from its scan
      // projection (inside the score they would re-run per pair).
      e.select(col("vec_id"), col("label"), col("embedding").as("ev"),
          normExpr("embedding").as("e_nrm"))
        .join(broadcast(routed), col("label") === col("rep_label")
          && col("vec_id") =!= col("query_id"))
        .withColumn("score", round(VecMath.vec_dot(col("qv"), col("ev"))
          / (col("q_nrm") * col("e_nrm")), 6))
        .groupBy(col("query_id"))
        .agg(TopK.topK(3)(col("score"), col("vec_id")).as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"), col("col.id").as("vec_id"),
          col("col.score").as("score"), (col("pos") + 1).cast("int").as("rn"))
        .orderBy(col("query_id"), col("rn"))
    },

    // ----- MMR diversified retrieval (Carbonell & Goldstein 1998):
    // re-rank a relevance shortlist so the k results are relevant AND
    // mutually dissimilar — score(d) = λ·rel(q,d) −
    // (1−λ)·max_{s∈selected} sim(d,s), selected greedily. The
    // corpus-scale stage is the SAME bounded top-k scan as q56 (one
    // corpus × broadcast(queries) pass, ≤ queries×8 rows shuffled);
    // the greedy loop then runs entirely on the shortlist — 8 rows
    // per query — as k fixed relational argmax steps (min-struct,
    // ties to lowest vec_id), never touching the corpus again. That
    // split is exactly why MMR scales: diversification cost is
    // queries×shortlist², independent of corpus size. All cosines
    // rounded to 6 dp before comparison so the greedy argmax is
    // reproducible across engines and partitionings. λ = 0.7. -----
    q("q198_mmr_diversified",
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |flat AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |                unnest(range(len(embedding))) AS i FROM e),
        |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vec_id),
        |rels AS (SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
        |    round(sum(fa.x * fb.x) / (na.nrm * nb.nrm), 6) AS rel
        |  FROM e q JOIN e b ON b.vec_id <> q.vec_id
        |  JOIN flat fa ON fa.vec_id = q.vec_id
        |  JOIN flat fb ON fb.vec_id = b.vec_id AND fb.i = fa.i
        |  JOIN norms na ON na.vec_id = q.vec_id
        |  JOIN norms nb ON nb.vec_id = b.vec_id
        |  WHERE q.vec_id < 10
        |  GROUP BY 1, 2, na.nrm, nb.nrm),
        |cand AS (SELECT query_id, vec_id, rel FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY rel DESC, vec_id) AS rk FROM rels) WHERE rk <= 8),
        |psim AS (SELECT a.query_id, a.vec_id AS a, b.vec_id AS b,
        |    round(sum(fa.x * fb.x) / (na.nrm * nb.nrm), 6) AS sim
        |  FROM cand a JOIN cand b ON b.query_id = a.query_id
        |    AND b.vec_id <> a.vec_id
        |  JOIN flat fa ON fa.vec_id = a.vec_id
        |  JOIN flat fb ON fb.vec_id = b.vec_id AND fb.i = fa.i
        |  JOIN norms na ON na.vec_id = a.vec_id
        |  JOIN norms nb ON nb.vec_id = b.vec_id
        |  GROUP BY 1, 2, 3, na.nrm, nb.nrm),
        |s1 AS (SELECT query_id, vec_id AS v1, 0.7::DOUBLE * rel AS m1 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY rel DESC, vec_id) AS rk FROM cand) WHERE rk = 1),
        |st2 AS (SELECT c.query_id, c.vec_id,
        |    0.7::DOUBLE * c.rel - 0.3::DOUBLE * p.sim AS mmr
        |  FROM cand c JOIN s1 USING (query_id)
        |  JOIN psim p ON p.query_id = c.query_id AND p.a = c.vec_id
        |    AND p.b = s1.v1
        |  WHERE c.vec_id <> s1.v1),
        |s2 AS (SELECT query_id, vec_id AS v2, mmr AS m2 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY mmr DESC, vec_id) AS rk FROM st2) WHERE rk = 1),
        |pen3 AS (SELECT p.query_id, p.a AS vec_id, max(p.sim) AS pen
        |  FROM psim p JOIN s1 ON s1.query_id = p.query_id
        |  JOIN s2 ON s2.query_id = p.query_id
        |  WHERE p.b = s1.v1 OR p.b = s2.v2
        |  GROUP BY 1, 2),
        |st3 AS (SELECT c.query_id, c.vec_id,
        |    0.7::DOUBLE * c.rel - 0.3::DOUBLE * pn.pen AS mmr
        |  FROM cand c JOIN s1 USING (query_id) JOIN s2 USING (query_id)
        |  JOIN pen3 pn ON pn.query_id = c.query_id AND pn.vec_id = c.vec_id
        |  WHERE c.vec_id <> s1.v1 AND c.vec_id <> s2.v2),
        |s3 AS (SELECT query_id, vec_id AS v3, mmr AS m3 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY mmr DESC, vec_id) AS rk FROM st3) WHERE rk = 1)
        |SELECT query_id, CAST(1 AS INTEGER) AS rn, v1 AS vec_id,
        |       m1 AS mmr FROM s1
        |UNION ALL SELECT query_id, 2, v2, m2 FROM s2
        |UNION ALL SELECT query_id, 3, v3, m3 FROM s3
        |ORDER BY query_id, rn""") { (s, dir) => mmrTopK(s, dir) },

    // ----- rotated PQ (the random-rotation OPQ baseline of Ge et al.
    // 2013, structured as sign-flip + Hadamard — the SRHT
    // preconditioner of Ailon & Chazelle 2006): energy is spread
    // evenly across the m subspaces before quantization, which is
    // the whole failure mode of plain PQ on coordinate-correlated
    // vectors. The rotation H·D is DATA-INDEPENDENT, so it is built
    // once on the driver (md5-parity sign diagonal, popcount
    // Hadamard) and shipped as 64 literal ±1 rows — the corpus-side
    // rotation is a pure MAP (64 codegen'd dot folds per row, zero
    // shuffle, zero fit pass), after which the q186 PQ chain runs
    // unchanged on the rotated coordinates. The oracle replays the
    // same parity/popcount matrix and the full PQ fit. -----
    q("q200_rotated_pq_topk",
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |f0 AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |               unnest(range(len(embedding))) AS i FROM e),
        |dims AS (SELECT DISTINCT i FROM f0),
        |sg AS (SELECT i, CASE WHEN substring(md5('s:' || i), 1, 1)
        |         IN ('0','2','4','6','8','a','c','e') THEN 1.0 ELSE -1.0 END AS sgn
        |       FROM dims),
        |hm AS (SELECT a.i, b.i AS j,
        |         CASE WHEN bit_count(CAST(a.i AS BIGINT) & CAST(b.i AS BIGINT)) % 2 = 0
        |           THEN 1.0 ELSE -1.0 END AS hsign
        |       FROM dims a CROSS JOIN dims b),
        |rot AS (SELECT f.vec_id, hm.j AS i,
        |          sum(f.x * (sg.sgn * hm.hsign)) / 8.0 AS x
        |        FROM f0 f JOIN sg ON sg.i = f.i JOIN hm ON hm.i = f.i
        |        GROUP BY 1, 2),
        |${duckPqCtes("rot")},
        |sc AS (SELECT l.query_id, t.vec_id,
        |         $duckAdcSum AS adist
        |       FROM pcodes t JOIN plt l ON l.j = t.j AND l.code = t.code
        |       WHERE t.vec_id >= 10
        |       GROUP BY 1, 2),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |             ORDER BY adist, vec_id) AS rn FROM sc)
        |SELECT query_id, vec_id, adist, CAST(rn AS INTEGER) AS rn
        |FROM ranked WHERE rn <= 3
        |ORDER BY query_id, rn""") { (s, dir) => rotatedPqTopK(s, dir) },

    // ----- ANN recall evaluation harness: recall@3 of the IVF path
    // (q58b routing) against the exact brute-force ranking (q56),
    // per query — the in-engine quality gate every approximate index
    // needs before it replaces an exact scan in production. Composes
    // the two registered pipelines verbatim (any fix to either is
    // automatically what gets measured) and reduces to one
    // bounded-size equi join: both sides are queries × 3 rows, so
    // the eval costs the two searches plus epsilon. At 100 TB the
    // brute-force side runs on a SAMPLED query set (the standard
    // recall-estimation protocol) — the corpus scan is one
    // embarrassingly-parallel pass with probes broadcast. On THIS
    // corpus the measured recall is low (0-1/3 per query): isotropic
    // random embeddings are the documented adversarial regime for
    // coarse routing (distance concentration, PLANS.md two-level
    // tables) — surfacing exactly that is what the harness is for;
    // on clustered real embeddings the same probe reads high. -----
    q("q207_ann_recall",
      """WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
        |flat AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |                unnest(range(len(embedding))) AS i FROM e),
        |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vec_id),
        |bdots AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id, sum(fa.x * fb.x) AS dot
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id
        |  JOIN flat fa ON fa.vec_id = a.vec_id
        |  JOIN flat fb ON fb.vec_id = b.vec_id AND fb.i = fa.i
        |  WHERE a.vec_id < 10
        |  GROUP BY 1, 2),
        |bscored AS (
        |  SELECT query_id, bdots.vec_id AS vec_id,
        |    round(dot / (na.nrm * nb.nrm), 6) AS score
        |  FROM bdots JOIN norms na ON na.vec_id = query_id
        |             JOIN norms nb ON nb.vec_id = bdots.vec_id),
        |brute AS (SELECT query_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, vec_id) AS rn FROM bscored) WHERE rn <= 3),
        |reps AS (SELECT label, min(vec_id) AS rep_id FROM e GROUP BY label),
        |probe2rep AS (
        |  SELECT q.vec_id AS query_id, reps.label,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      round(sum(fq.x * fr.x) / (nq.nrm * nr.nrm), 6) DESC, reps.label) AS rk
        |  FROM e q JOIN reps ON true
        |  JOIN flat fq ON fq.vec_id = q.vec_id
        |  JOIN flat fr ON fr.vec_id = reps.rep_id AND fr.i = fq.i
        |  JOIN norms nq ON nq.vec_id = q.vec_id
        |  JOIN norms nr ON nr.vec_id = reps.rep_id
        |  WHERE q.vec_id < 10
        |  GROUP BY q.vec_id, reps.label, nq.nrm, nr.nrm),
        |routed AS (SELECT query_id, label FROM probe2rep WHERE rk = 1),
        |iscored AS (
        |  SELECT r.query_id, b.vec_id,
        |    round(sum(fa.x * fb.x) / (na.nrm * nb.nrm), 6) AS score
        |  FROM routed r JOIN e b ON b.label = r.label
        |  JOIN flat fa ON fa.vec_id = r.query_id
        |  JOIN flat fb ON fb.vec_id = b.vec_id AND fb.i = fa.i
        |  JOIN norms na ON na.vec_id = r.query_id
        |  JOIN norms nb ON nb.vec_id = b.vec_id
        |  WHERE b.vec_id <> r.query_id
        |  GROUP BY r.query_id, b.vec_id, na.nrm, nb.nrm),
        |ivf AS (SELECT query_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, vec_id) AS rn FROM iscored) WHERE rn <= 3),
        |hits AS (SELECT query_id, count(*) AS h
        |         FROM brute JOIN ivf USING (query_id, vec_id) GROUP BY query_id),
        |qs AS (SELECT DISTINCT query_id FROM brute)
        |SELECT qs.query_id, CAST(coalesce(hits.h, 0) AS BIGINT) AS hits,
        |  round(coalesce(hits.h, 0)::DOUBLE / 3.0, 6) AS recall_at_3
        |FROM qs LEFT JOIN hits USING (query_id)
        |ORDER BY qs.query_id""") { (s, dir) =>
      val defs = queries
      val brute = defs.find(_.name == "q56_ann_bruteforce").get.fn(s, dir)
        .select(col("query_id"), col("vec_id"))
      val ivf = defs.find(_.name == "q58b_ann_ivf").get.fn(s, dir)
        .select(col("query_id"), col("vec_id"))
      val qids = brute.select(col("query_id")).distinct()
      val hits = brute.join(ivf, Seq("query_id", "vec_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("h"))
      qids.join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("h"), lit(0L)).cast("long").as("hits"),
          round(coalesce(col("h"), lit(0L)).cast("double") / lit(3.0), 6)
            .as("recall_at_3"))
        .orderBy(col("query_id"))
    },

    // ----- cluster-balanced corpus selection (the DCLM-style
    // diversity-preserving sampler, Li et al. 2024; also the
    // "cluster then sample evenly" step of Tirumala et al. 2023
    // D4): k-means the embedding space (q135's deterministic fit),
    // then keep an EQUAL per-cluster budget — rare clusters are
    // over-represented relative to proportional sampling, which is
    // the point: the kept set spans the space instead of mirroring
    // its density. Admission within a cluster is a deterministic
    // content-independent hash order (reproducible under any
    // partitioning, no coordination). Scale shape: assignment is
    // corpus × broadcast(centroids) with a map-side-combinable
    // argmin (the corpus never shuffles); per-cluster heads ride the
    // bounded TopK aggregate — the exchange carries clusters × 24
    // buffers, never a cluster's membership, and there is no Window
    // anywhere (oracle ranks with one, Spark must not — PlanSpec).
    // -----
    q("q218_cluster_balanced_keep",
      s"""WITH ${duckLloydCtes()},
        |u AS (SELECT vec_id, cluster,
        |  CAST(list_sum(list_transform(range(1,14),
        |    hx -> (strpos('0123456789abcdef',
        |             substr(md5('cb:' || vec_id), hx, 1))-1)
        |          * (2**(4*(13-hx))))) AS BIGINT) AS u
        |  FROM ${lloydFin()}),
        |r AS (SELECT cluster, vec_id, u,
        |        row_number() OVER (PARTITION BY cluster
        |          ORDER BY u, vec_id) AS rn
        |      FROM u)
        |SELECT CAST(cluster AS BIGINT) AS cluster, CAST(rn AS INTEGER) AS rn,
        |  vec_id, u FROM r WHERE rn <= 24
        |ORDER BY cluster, rn""") { (s, dir) =>
      import graft.functions.TopK
      val uCol = conv(substring(md5(concat(lit("cb:"),
        col("vec_id").cast("string"))), 1, 13), 16, 10).cast("long")
      val kept = kmeansClusters(Tables.t(s, dir, "embeddings"), 8, 2)
        .withColumn("u", uCol)
        .groupBy(col("cluster"))
        .agg(TopK.topK(24)(-col("u").cast("double"), col("vec_id")).as("head"))
        .select(col("cluster"), posexplode(col("head")))
      kept.select(col("cluster").cast("long").as("cluster"),
          (col("pos") + 1).cast("int").as("rn"),
          col("col.id").as("vec_id"))
        .withColumn("u", conv(substring(md5(concat(lit("cb:"),
          col("vec_id").cast("string"))), 1, 13), 16, 10).cast("long"))
        .orderBy(col("cluster"), col("rn"))
    },

    // ----- q238: STREAMING ANN INDEX INGEST (r15 verdict item 2 —
    // the similarity family's q185 analog, closing its "batch-fit,
    // batch-probed only" gap): freeze a fitted IVF-PQ index on the
    // standing corpus (vec_id % 10 <> 9 — q190's coarse router +
    // codebooks, persisted via AnnIndex.save), then assign each
    // ARRIVING vector (the % 10 = 9 slice as a stream) to its coarse
    // cell and PQ codes AT INGEST: a pure per-row projection against
    // broadcast-class model literals — no aggregation, no state,
    // streaming-safe under any micro-batch schedule, so the oracle
    // holds under any trigger (the q229 DHashSig argument applied to
    // vectors). Ingested postings append into the index's cluster
    // partitions at day close (the crash-safe 2PC variant is
    // AnnIndex.ingestEos + commitAdmitted, Derby-proven in
    // AnnIngestSpec; here the plain parquet append runs under
    // processAllAvailable for the oracle). The DuckDB oracle replays
    // the ENTIRE lifecycle: corpus-only Lloyd's fit, corpus-only PQ
    // codebook fit, then the delta's nearest-centroid and
    // nearest-codeword assignments. -----
    q("q238_stream_ann_ingest",
      s"""WITH ${duckLloydCtes(8, 2, "WHERE vec_id % 10 <> 9")},
        |${duckPqCtes(duckPqRawSrc)},
        |de AS (SELECT vec_id, embedding FROM embeddings
        |       WHERE vec_id % 10 = 9),
        |dflat AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |                 unnest(range(len(embedding))) AS i FROM de),
        |dd AS (SELECT f.vec_id, c.cluster,
        |         round(sum((f.x - c.c) * (f.x - c.c)), 6) AS dist
        |       FROM dflat f JOIN c2 c ON c.i = f.i GROUP BY 1, 2),
        |da AS (SELECT vec_id, cluster FROM (
        |         SELECT vec_id, cluster, row_number() OVER (
        |           PARTITION BY vec_id ORDER BY dist, cluster) AS rk
        |         FROM dd) WHERE rk = 1),
        |dsub AS (SELECT vec_id, i // 16 AS j, i % 16 AS si, x FROM dflat),
        |dc AS (SELECT s.vec_id, s.j, c.code,
        |         round(sum((s.x - c.c) * (s.x - c.c)), 6) AS dist
        |       FROM dsub s JOIN pcb1 c ON c.j = s.j AND c.si = s.si
        |       GROUP BY 1, 2, 3),
        |dcode AS (SELECT vec_id, j, code FROM (
        |         SELECT vec_id, j, code, row_number() OVER (
        |           PARTITION BY vec_id, j ORDER BY dist, code) AS rk
        |         FROM dc) WHERE rk = 1)
        |SELECT da.vec_id, CAST(da.cluster AS INTEGER) AS cluster,
        |  CAST(max(CASE WHEN dcode.j = 0 THEN dcode.code END) AS INTEGER) AS c0,
        |  CAST(max(CASE WHEN dcode.j = 1 THEN dcode.code END) AS INTEGER) AS c1,
        |  CAST(max(CASE WHEN dcode.j = 2 THEN dcode.code END) AS INTEGER) AS c2,
        |  CAST(max(CASE WHEN dcode.j = 3 THEN dcode.code END) AS INTEGER) AS c3
        |FROM da JOIN dcode USING (vec_id)
        |GROUP BY da.vec_id, da.cluster
        |ORDER BY da.vec_id""") { (s, dir) => streamAnnIngest(s, dir) },

    // ----- q242: top-k retrieval AGAINST THE PERSISTED INDEX — the
    // read side that completes the standing-index lifecycle (save →
    // ingest → probe; dedup's q176/q185 story on vectors): queries
    // never see raw corpus vectors, only the postings table the index
    // stores at rest, and the scan is PARTITION-PRUNED to the
    // queries' own clusters (the postings partition on the coarse
    // cell; the 9 query clusters collect driver-side — broadcast-
    // class — into a static IN filter, so a 1000-cell 100 TB index
    // reads ≤ 9 partitions; PlanSpec pins PartitionFilters on the
    // executed scan). Candidates include TODAY'S INGESTED vectors:
    // the delta slice is assigned and appended through q238's per-row
    // path before probing, and the oracle replays corpus fit + corpus
    // codes + delta assignment + the cluster-gated ADC sum end to
    // end. Scoring is q186's ADC: per-query 16-entry lookup tables
    // broadcast; a candidate costs 4 integer-keyed adds. -----
    q("q242_ann_index_topk",
      s"""WITH ${duckLloydCtes(8, 2, "WHERE vec_id % 10 <> 9")},
        |${duckPqCtes(duckPqRawSrc)},
        |de AS (SELECT vec_id, embedding FROM embeddings
        |       WHERE vec_id % 10 = 9),
        |dflat AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |                 unnest(range(len(embedding))) AS i FROM de),
        |dd AS (SELECT f.vec_id, c.cluster,
        |         round(sum((f.x - c.c) * (f.x - c.c)), 6) AS dist
        |       FROM dflat f JOIN c2 c ON c.i = f.i GROUP BY 1, 2),
        |da AS (SELECT vec_id, cluster FROM (
        |         SELECT vec_id, cluster, row_number() OVER (
        |           PARTITION BY vec_id ORDER BY dist, cluster) AS rk
        |         FROM dd) WHERE rk = 1),
        |dsub AS (SELECT vec_id, i // 16 AS j, i % 16 AS si, x FROM dflat),
        |dc AS (SELECT s.vec_id, s.j, c.code,
        |         round(sum((s.x - c.c) * (s.x - c.c)), 6) AS dist
        |       FROM dsub s JOIN pcb1 c ON c.j = s.j AND c.si = s.si
        |       GROUP BY 1, 2, 3),
        |dcode AS (SELECT vec_id, j, code FROM (
        |         SELECT vec_id, j, code, row_number() OVER (
        |           PARTITION BY vec_id, j ORDER BY dist, code) AS rk
        |         FROM dc) WHERE rk = 1),
        |allc AS (SELECT vec_id, cluster FROM a3
        |         UNION ALL SELECT vec_id, cluster FROM da),
        |allcodes AS (SELECT vec_id, j, code FROM pcodes
        |             UNION ALL SELECT vec_id, j, code FROM dcode),
        |sc AS (SELECT l.query_id, t.vec_id,
        |         $duckAdcSum AS adist
        |       FROM allcodes t
        |       JOIN plt l ON l.j = t.j AND l.code = t.code
        |       JOIN allc ct ON ct.vec_id = t.vec_id
        |       JOIN a3 cq ON cq.vec_id = l.query_id
        |         AND cq.cluster = ct.cluster
        |       WHERE t.vec_id <> l.query_id
        |       GROUP BY 1, 2),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |             ORDER BY adist, vec_id) AS rn FROM sc)
        |SELECT query_id, vec_id, adist, CAST(rn AS INTEGER) AS rn
        |FROM ranked WHERE rn <= 3
        |ORDER BY query_id, rn""") { (s, dir) => annIndexTopK(s, dir) },

    // ----- q244: standing-index HEALTH report — the observability
    // pass an index-ops pipeline runs at every day close: per-cell
    // posting counts (corpus + today's ingested delta), each cell's
    // integer-permille share, and a HOT flag (count > 2× the mean
    // cell size — all-integer cross-multiplied). Cell imbalance is
    // what drives the refit cadence: ingest drift concentrates new
    // vectors in a few cells, their probe cost grows linearly with
    // cell width (q242 reads whole cells), and a hot flag is the
    // refit/split trigger. One groupBy over the postings table (the
    // scan reads ONLY the partition column — a metadata-cheap
    // column), plus a broadcast of the k-row totals. -----
    q("q244_ann_index_health",
      s"""WITH ${duckLloydCtes(8, 2, "WHERE vec_id % 10 <> 9")},
        |de AS (SELECT vec_id, embedding FROM embeddings
        |       WHERE vec_id % 10 = 9),
        |dflat AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |                 unnest(range(len(embedding))) AS i FROM de),
        |dd AS (SELECT f.vec_id, c.cluster,
        |         round(sum((f.x - c.c) * (f.x - c.c)), 6) AS dist
        |       FROM dflat f JOIN c2 c ON c.i = f.i GROUP BY 1, 2),
        |da AS (SELECT vec_id, cluster FROM (
        |         SELECT vec_id, cluster, row_number() OVER (
        |           PARTITION BY vec_id ORDER BY dist, cluster) AS rk
        |         FROM dd) WHERE rk = 1),
        |allc AS (SELECT vec_id, cluster FROM a3
        |         UNION ALL SELECT vec_id, cluster FROM da),
        |h AS (SELECT cluster, count(*) AS n_vecs FROM allc
        |      GROUP BY cluster),
        |t AS (SELECT sum(n_vecs) AS tot, count(*) AS k FROM h)
        |SELECT CAST(h.cluster AS INTEGER) AS cluster,
        |  CAST(h.n_vecs AS BIGINT) AS n_vecs,
        |  CAST(1000 * h.n_vecs // t.tot AS BIGINT) AS permille,
        |  CAST(h.n_vecs * t.k > 2 * t.tot AS INTEGER) AS hot
        |FROM h, t ORDER BY cluster""") { (s, dir) =>
      annIndexHealth(s, dir)
    },

    // ----- q246: STREAMING cell-arrival drift — the live twin of
    // q244's day-close health report (and the index-side sibling of
    // q237's batch PSI): per 100 s event-time window, how many
    // arriving vectors route to each coarse cell of the FROZEN index.
    // Ingest drift shows up here first — a cell whose arrival share
    // climbs window over window is tomorrow's hot cell — hours before
    // the day-close histogram moves. Per-row broadcast-literal
    // assignment (q238's streaming-safe device), then ONE append-mode
    // windowed count: groups seal and EVICT as the watermark passes
    // (bounded state: windows × k cells), deterministic under any
    // micro-batch schedule, so the batch oracle (delta assignment +
    // epoch bucketing) replays it exactly. Arrival clock ts =
    // vec_id + 1 s (the q136 convention); the far-future sentinel
    // carries vec_id ≡ 9 (mod 10) so the pushed-down delta filter
    // cannot drop it below the watermark node (the q158 lesson). -----
    q("q246_stream_cell_drift",
      s"""WITH ${duckLloydCtes(8, 2, "WHERE vec_id % 10 <> 9")},
        |de AS (SELECT vec_id, embedding FROM embeddings
        |       WHERE vec_id % 10 = 9),
        |dflat AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |                 unnest(range(len(embedding))) AS i FROM de),
        |dd AS (SELECT f.vec_id, c.cluster,
        |         round(sum((f.x - c.c) * (f.x - c.c)), 6) AS dist
        |       FROM dflat f JOIN c2 c ON c.i = f.i GROUP BY 1, 2),
        |da AS (SELECT vec_id, cluster FROM (
        |         SELECT vec_id, cluster, row_number() OVER (
        |           PARTITION BY vec_id ORDER BY dist, cluster) AS rk
        |         FROM dd) WHERE rk = 1)
        |SELECT epoch_ms(((da.vec_id + 1) // 100) * 100000) AS w_start,
        |  CAST(da.cluster AS INTEGER) AS cluster,
        |  count(*) AS n_arrivals
        |FROM da GROUP BY 1, 2
        |ORDER BY w_start, cluster""") { (s, dir) =>
      streamCellDrift(s, dir)
    },

    // ----- q247: INDEX MAINTENANCE — act on the health report's
    // imbalance signal (r16 verdict item 3): split the index's
    // LARGEST cell in place (q244's hot flag is the production
    // trigger; the registered query targets the deterministic
    // largest-ties-lowest cell so the pass always exercises). The
    // cell's member vectors re-fit a within-cell 2-means (q135
    // conventions, init = the two smallest member ids), child 0
    // keeps the parent id, child 1 becomes cell k; ONLY the parent's
    // postings partition rewrites, the family sidecar records the
    // lineage, the model epoch bumps — no full-index rebuild, and
    // probes stay family-expanded so retrieval results are
    // bit-identical across the split (AnnMaintSpec pins it; that is
    // what makes split a pure LAYOUT/ingest-routing operation).
    // Output: the post-split per-cell report with lineage. The
    // DuckDB oracle replays the ENTIRE pass — corpus fit, delta
    // assignment, largest-cell choice, within-cell 2-means,
    // reassignment, histogram. -----
    q("q247_ann_index_split",
      s"""WITH ${duckLloydCtes(8, 2, "WHERE vec_id % 10 <> 9")},
        |de AS (SELECT vec_id, embedding FROM embeddings
        |       WHERE vec_id % 10 = 9),
        |dflat AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |                 unnest(range(len(embedding))) AS i FROM de),
        |dd AS (SELECT f.vec_id, c.cluster,
        |         round(sum((f.x - c.c) * (f.x - c.c)), 6) AS dist
        |       FROM dflat f JOIN c2 c ON c.i = f.i GROUP BY 1, 2),
        |da AS (SELECT vec_id, cluster FROM (
        |         SELECT vec_id, cluster, row_number() OVER (
        |           PARTITION BY vec_id ORDER BY dist, cluster) AS rk
        |         FROM dd) WHERE rk = 1),
        |allc AS (SELECT vec_id, cluster FROM a3
        |         UNION ALL SELECT vec_id, cluster FROM da),
        |hh AS (SELECT cluster, count(*) AS n FROM allc GROUP BY cluster),
        |tgt AS (SELECT cluster FROM hh ORDER BY n DESC, cluster LIMIT 1),
        |mem AS (SELECT a.vec_id FROM allc a
        |        JOIN tgt t ON a.cluster = t.cluster),
        |allflat AS (SELECT vec_id, i, x FROM flat
        |            UNION ALL SELECT vec_id, i, x FROM dflat),
        |mflat AS (SELECT f.vec_id, f.i, f.x FROM allflat f
        |          JOIN mem USING (vec_id)),
        |init AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1
        |           AS child
        |         FROM mem ORDER BY vec_id LIMIT 2),
        |sc0 AS (SELECT init.child, f.i, f.x AS c FROM init
        |        JOIN mflat f USING (vec_id)),
        |sd1 AS (SELECT f.vec_id, c.child,
        |          round(sum((f.x - c.c) * (f.x - c.c)), 6) AS dist
        |        FROM mflat f JOIN sc0 c ON c.i = f.i GROUP BY 1, 2),
        |sa1 AS (SELECT vec_id, child FROM (
        |          SELECT vec_id, child, row_number() OVER (
        |            PARTITION BY vec_id ORDER BY dist, child) AS rk
        |          FROM sd1) WHERE rk = 1),
        |sc1 AS (SELECT a.child, f.i, round(avg(f.x), 6) AS c
        |        FROM sa1 a JOIN mflat f ON f.vec_id = a.vec_id
        |        GROUP BY 1, 2),
        |sd2 AS (SELECT f.vec_id, c.child,
        |          round(sum((f.x - c.c) * (f.x - c.c)), 6) AS dist
        |        FROM mflat f JOIN sc1 c ON c.i = f.i GROUP BY 1, 2),
        |sa2 AS (SELECT vec_id, child FROM (
        |          SELECT vec_id, child, row_number() OVER (
        |            PARTITION BY vec_id ORDER BY dist, child) AS rk
        |          FROM sd2) WHERE rk = 1),
        |sc2 AS (SELECT a.child, f.i, round(avg(f.x), 6) AS c
        |        FROM sa2 a JOIN mflat f ON f.vec_id = a.vec_id
        |        GROUP BY 1, 2),
        |sd3 AS (SELECT f.vec_id, c.child,
        |          round(sum((f.x - c.c) * (f.x - c.c)), 6) AS dist
        |        FROM mflat f JOIN sc2 c ON c.i = f.i GROUP BY 1, 2),
        |sa3 AS (SELECT vec_id, child FROM (
        |          SELECT vec_id, child, row_number() OVER (
        |            PARTITION BY vec_id ORDER BY dist, child) AS rk
        |          FROM sd3) WHERE rk = 1),
        |fin AS (
        |  SELECT a.vec_id, a.cluster FROM allc a
        |  LEFT JOIN mem m ON a.vec_id = m.vec_id WHERE m.vec_id IS NULL
        |  UNION ALL
        |  SELECT s.vec_id, CASE WHEN s.child = 0
        |    THEN (SELECT cluster FROM tgt) ELSE 8 END AS cluster
        |  FROM sa3 s),
        |h AS (SELECT cluster, count(*) AS n_vecs FROM fin
        |      GROUP BY cluster),
        |t AS (SELECT sum(n_vecs) AS tot FROM h)
        |SELECT CAST(h.cluster AS INTEGER) AS cluster,
        |  CAST(CASE WHEN h.cluster IN ((SELECT cluster FROM tgt), 8)
        |    THEN (SELECT cluster FROM tgt) ELSE h.cluster END
        |    AS INTEGER) AS family,
        |  CAST(h.n_vecs AS BIGINT) AS n_vecs,
        |  CAST(1000 * h.n_vecs // t.tot AS BIGINT) AS permille
        |FROM h, t ORDER BY cluster""") { (s, dir) =>
      annIndexSplitHealth(s, dir)
    },

    // ----- q248: CROSS-MODAL retrieval against the standing index
    // (r16 verdict item 6 — the retrieval analog of q245's pairing):
    // CAPTION-side queries probe the MEDIA-side persisted index. The
    // caption featurizer is the deterministic decode stub (the q59
    // stance): a 64-bucket byte histogram per caption, all-integer
    // counts — in production this is the caption-tower embedding of
    // a two-tower model, and everything downstream (per-row
    // assignment against the frozen router, family-expanded
    // partition-pruned probe, broadcast ADC LUTs) is IDENTICAL to
    // q242's vector path: one annProbe, two modalities. No
    // self-exclusion — query ids live in the caption id space, so a
    // numeric collision with vec_ids must NOT drop candidates. The
    // oracle replays featurizer, corpus fit, caption assignment,
    // caption LUTs, and the cluster-gated ADC top-3 end to end. -----
    q("q248_crossmodal_retrieval",
      s"""WITH ${duckLloydCtes(8, 2, "WHERE vec_id % 10 <> 9")},
        |${duckPqCtes(duckPqRawSrc)},
        |de AS (SELECT vec_id, embedding FROM embeddings
        |       WHERE vec_id % 10 = 9),
        |dflat AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |                 unnest(range(len(embedding))) AS i FROM de),
        |dd AS (SELECT f.vec_id, c.cluster,
        |         round(sum((f.x - c.c) * (f.x - c.c)), 6) AS dist
        |       FROM dflat f JOIN c2 c ON c.i = f.i GROUP BY 1, 2),
        |da AS (SELECT vec_id, cluster FROM (
        |         SELECT vec_id, cluster, row_number() OVER (
        |           PARTITION BY vec_id ORDER BY dist, cluster) AS rk
        |         FROM dd) WHERE rk = 1),
        |dsub AS (SELECT vec_id, i // 16 AS j, i % 16 AS si, x FROM dflat),
        |dc AS (SELECT s.vec_id, s.j, c.code,
        |         round(sum((s.x - c.c) * (s.x - c.c)), 6) AS dist
        |       FROM dsub s JOIN pcb1 c ON c.j = s.j AND c.si = s.si
        |       GROUP BY 1, 2, 3),
        |dcode AS (SELECT vec_id, j, code FROM (
        |         SELECT vec_id, j, code, row_number() OVER (
        |           PARTITION BY vec_id, j ORDER BY dist, code) AS rk
        |         FROM dc) WHERE rk = 1),
        |allc AS (SELECT vec_id, cluster FROM a3
        |         UNION ALL SELECT vec_id, cluster FROM da),
        |allcodes AS (SELECT vec_id, j, code FROM pcodes
        |             UNION ALL SELECT vec_id, j, code FROM dcode),
        |cbytes AS (SELECT doc_id, ascii(substr(text, i.i, 1)) % 64 AS b
        |           FROM documents, unnest(range(1, length(text)+1)) AS i(i)
        |           WHERE doc_id < 10),
        |qflat AS (SELECT d.doc_id, r.d AS i,
        |            CAST(coalesce(count(cbytes.b), 0) AS DOUBLE) AS x
        |          FROM (SELECT DISTINCT doc_id FROM documents
        |                WHERE doc_id < 10) d
        |          CROSS JOIN (SELECT unnest(range(64)) AS d) r
        |          LEFT JOIN cbytes ON cbytes.doc_id = d.doc_id
        |                          AND cbytes.b = r.d
        |          GROUP BY d.doc_id, r.d),
        |qd AS (SELECT f.doc_id, c.cluster,
        |         round(sum((f.x - c.c) * (f.x - c.c)), 6) AS dist
        |       FROM qflat f JOIN c2 c ON c.i = f.i GROUP BY 1, 2),
        |qa AS (SELECT doc_id, cluster FROM (
        |         SELECT doc_id, cluster, row_number() OVER (
        |           PARTITION BY doc_id ORDER BY dist, cluster) AS rk
        |         FROM qd) WHERE rk = 1),
        |qsub AS (SELECT doc_id, i // 16 AS j, i % 16 AS si, x FROM qflat),
        |qlt AS (SELECT s.doc_id AS query_id, s.j, c.code,
        |          round(sum((s.x - c.c) * (s.x - c.c)), 6) AS d
        |        FROM qsub s JOIN pcb1 c ON c.j = s.j AND c.si = s.si
        |        GROUP BY 1, 2, 3),
        |sc AS (SELECT l.query_id, t.vec_id,
        |         $duckAdcSum AS adist
        |       FROM allcodes t
        |       JOIN qlt l ON l.j = t.j AND l.code = t.code
        |       JOIN allc ct ON ct.vec_id = t.vec_id
        |       JOIN qa cq ON cq.doc_id = l.query_id
        |         AND cq.cluster = ct.cluster
        |       GROUP BY 1, 2),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |             ORDER BY adist, vec_id) AS rn FROM sc)
        |SELECT query_id, vec_id, adist, CAST(rn AS INTEGER) AS rn
        |FROM ranked WHERE rn <= 3
        |ORDER BY query_id, rn""") { (s, dir) =>
      crossModalRetrieval(s, dir)
    },

    // ----- q249: AS-OF (time-travel) probe of the standing index —
    // retrieval pinned to a COMMIT EPOCH. The postings partition on
    // (cluster, epoch), so `epoch <= E` rides the SAME
    // PartitionFilters node the cluster IN rides (PlanSpec pins the
    // two-dimensional prune on the executed scan): yesterday's
    // candidate set re-derives BIT-EXACTLY without ever snapshotting
    // the index — the reproducibility contract a training-data
    // pipeline needs ("which neighbors did the selection run see on
    // day E?"; q241's epoch-aware selection is the dedup-side twin).
    // The lifecycle commits TWO ingest windows — the delta's
    // even-decade ids as epoch 0, the odd-decade rest as epoch 1 —
    // then probes as-of epoch 0: the oracle replays fit + ONLY the
    // first window's assignment, so any epoch-1 vector leaking into
    // the candidates fails the hash. At 100 TB the filter is pure
    // directory pruning — no data read from epochs above E, no
    // tombstones, no copy-on-write. -----
    q("q249_ann_index_asof",
      s"""WITH ${duckLloydCtes(8, 2, "WHERE vec_id % 10 <> 9")},
        |${duckPqCtes(duckPqRawSrc)},
        |de AS (SELECT vec_id, embedding FROM embeddings
        |       WHERE vec_id % 10 = 9 AND (vec_id // 10) % 2 = 0),
        |dflat AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |                 unnest(range(len(embedding))) AS i FROM de),
        |dd AS (SELECT f.vec_id, c.cluster,
        |         round(sum((f.x - c.c) * (f.x - c.c)), 6) AS dist
        |       FROM dflat f JOIN c2 c ON c.i = f.i GROUP BY 1, 2),
        |da AS (SELECT vec_id, cluster FROM (
        |         SELECT vec_id, cluster, row_number() OVER (
        |           PARTITION BY vec_id ORDER BY dist, cluster) AS rk
        |         FROM dd) WHERE rk = 1),
        |dsub AS (SELECT vec_id, i // 16 AS j, i % 16 AS si, x FROM dflat),
        |dc AS (SELECT s.vec_id, s.j, c.code,
        |         round(sum((s.x - c.c) * (s.x - c.c)), 6) AS dist
        |       FROM dsub s JOIN pcb1 c ON c.j = s.j AND c.si = s.si
        |       GROUP BY 1, 2, 3),
        |dcode AS (SELECT vec_id, j, code FROM (
        |         SELECT vec_id, j, code, row_number() OVER (
        |           PARTITION BY vec_id, j ORDER BY dist, code) AS rk
        |         FROM dc) WHERE rk = 1),
        |allc AS (SELECT vec_id, cluster FROM a3
        |         UNION ALL SELECT vec_id, cluster FROM da),
        |allcodes AS (SELECT vec_id, j, code FROM pcodes
        |             UNION ALL SELECT vec_id, j, code FROM dcode),
        |sc AS (SELECT l.query_id, t.vec_id,
        |         $duckAdcSum AS adist
        |       FROM allcodes t
        |       JOIN plt l ON l.j = t.j AND l.code = t.code
        |       JOIN allc ct ON ct.vec_id = t.vec_id
        |       JOIN a3 cq ON cq.vec_id = l.query_id
        |         AND cq.cluster = ct.cluster
        |       WHERE t.vec_id <> l.query_id
        |       GROUP BY 1, 2),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |             ORDER BY adist, vec_id) AS rn FROM sc)
        |SELECT query_id, vec_id, adist, CAST(rn AS INTEGER) AS rn
        |FROM ranked WHERE rn <= 3
        |ORDER BY query_id, rn""") { (s, dir) => annIndexAsOf(s, dir) },

    // ----- q250: INDEX COMPACTION — GC the standing index at rest by
    // collapsing EXACT PQ-signature duplicates (the q133/q167 collapse
    // applied to the index instead of the corpus; the maintenance
    // sibling of q247's split). Two postings rows with the same
    // (cluster, c0..c3) are INDISTINGUISHABLE to every ADC probe —
    // identical codes give identical approximate distance to any query
    // — so keeping one (the smallest vec_id, the house representative
    // convention) removes pure redundancy from every future probe's
    // candidate set; on a near-dup-heavy vector corpus this is the
    // difference between a probe scanning a cell of clones and a cell
    // of distinct signatures. Scale shape: the signature histogram is
    // a map-side-combinable groupBy whose key space is bounded by
    // k·ksᵐ (broadcast-class on ANY corpus — never corpus-sized), the
    // keeper join broadcasts it, and ONLY cells that actually contain
    // duplicates rewrite their partitions (untouched cells stay
    // byte-stable; AnnMaintSpec pins it). Output: the per-cell GC
    // report. The oracle replays fit, corpus+delta codes, and the
    // per-cell distinct-signature census end to end. -----
    q("q250_ann_index_compact",
      s"""WITH ${duckLloydCtes(8, 2, "WHERE vec_id % 10 <> 9")},
        |${duckPqCtes(duckPqRawSrc)},
        |de AS (SELECT vec_id, embedding FROM embeddings
        |       WHERE vec_id % 10 = 9),
        |dflat AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |                 unnest(range(len(embedding))) AS i FROM de),
        |dd AS (SELECT f.vec_id, c.cluster,
        |         round(sum((f.x - c.c) * (f.x - c.c)), 6) AS dist
        |       FROM dflat f JOIN c2 c ON c.i = f.i GROUP BY 1, 2),
        |da AS (SELECT vec_id, cluster FROM (
        |         SELECT vec_id, cluster, row_number() OVER (
        |           PARTITION BY vec_id ORDER BY dist, cluster) AS rk
        |         FROM dd) WHERE rk = 1),
        |dsub AS (SELECT vec_id, i // 16 AS j, i % 16 AS si, x FROM dflat),
        |dc AS (SELECT s.vec_id, s.j, c.code,
        |         round(sum((s.x - c.c) * (s.x - c.c)), 6) AS dist
        |       FROM dsub s JOIN pcb1 c ON c.j = s.j AND c.si = s.si
        |       GROUP BY 1, 2, 3),
        |dcode AS (SELECT vec_id, j, code FROM (
        |         SELECT vec_id, j, code, row_number() OVER (
        |           PARTITION BY vec_id, j ORDER BY dist, code) AS rk
        |         FROM dc) WHERE rk = 1),
        |allc AS (SELECT vec_id, cluster FROM a3
        |         UNION ALL SELECT vec_id, cluster FROM da),
        |allcodes AS (SELECT vec_id, j, code FROM pcodes
        |             UNION ALL SELECT vec_id, j, code FROM dcode),
        |sigs AS (SELECT a.vec_id, a.cluster,
        |           max(CASE WHEN c.j = 0 THEN c.code END) AS c0,
        |           max(CASE WHEN c.j = 1 THEN c.code END) AS c1,
        |           max(CASE WHEN c.j = 2 THEN c.code END) AS c2,
        |           max(CASE WHEN c.j = 3 THEN c.code END) AS c3
        |         FROM allc a JOIN allcodes c ON c.vec_id = a.vec_id
        |         GROUP BY 1, 2),
        |g AS (SELECT cluster, c0, c1, c2, c3, count(*) AS n
        |      FROM sigs GROUP BY 1, 2, 3, 4, 5)
        |SELECT CAST(cluster AS INTEGER) AS cluster,
        |  CAST(sum(n) AS BIGINT) AS n_before,
        |  CAST(count(*) AS BIGINT) AS n_after,
        |  CAST(sum(n) - count(*) AS BIGINT) AS n_dropped
        |FROM g GROUP BY 1
        |ORDER BY cluster""") { (s, dir) => annIndexCompact(s, dir) },

    // ----- q251: STREAMING cross-modal retrieval — q248's probe run
    // AT INGEST (the live twin, completing the pattern every standing-
    // index family here follows: q176→q185, q242→q238, q248→q251).
    // Captions ARRIVE as a stream; each micro-batch featurizes
    // per-row (the deterministic decode stub — a production pipeline
    // plugs its caption-tower embedding here), then probes the FROZEN
    // media-side index through the SAME family-expanded partition-
    // pruned batch path inside foreachBatch (the q238 device: the
    // micro-batch is a batch frame, so the driver-side cluster
    // collect + static IN partition filter — illegal in a streaming
    // plan — are fully available per batch). Each query is ONE row,
    // so its top-k completes within its own micro-batch and the
    // result is deterministic under ANY micro-batch schedule — which
    // is what lets q248's batch oracle replay the stream end to end.
    // At 100 TB the arriving captions are the small side (a day's
    // captions vs the standing corpus); per-batch probes read only
    // the query cells' partitions. -----
    q("q251_stream_xmodal_retrieval",
      s"""WITH ${duckLloydCtes(8, 2, "WHERE vec_id % 10 <> 9")},
        |${duckPqCtes(duckPqRawSrc)},
        |de AS (SELECT vec_id, embedding FROM embeddings
        |       WHERE vec_id % 10 = 9),
        |dflat AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |                 unnest(range(len(embedding))) AS i FROM de),
        |dd AS (SELECT f.vec_id, c.cluster,
        |         round(sum((f.x - c.c) * (f.x - c.c)), 6) AS dist
        |       FROM dflat f JOIN c2 c ON c.i = f.i GROUP BY 1, 2),
        |da AS (SELECT vec_id, cluster FROM (
        |         SELECT vec_id, cluster, row_number() OVER (
        |           PARTITION BY vec_id ORDER BY dist, cluster) AS rk
        |         FROM dd) WHERE rk = 1),
        |dsub AS (SELECT vec_id, i // 16 AS j, i % 16 AS si, x FROM dflat),
        |dc AS (SELECT s.vec_id, s.j, c.code,
        |         round(sum((s.x - c.c) * (s.x - c.c)), 6) AS dist
        |       FROM dsub s JOIN pcb1 c ON c.j = s.j AND c.si = s.si
        |       GROUP BY 1, 2, 3),
        |dcode AS (SELECT vec_id, j, code FROM (
        |         SELECT vec_id, j, code, row_number() OVER (
        |           PARTITION BY vec_id, j ORDER BY dist, code) AS rk
        |         FROM dc) WHERE rk = 1),
        |allc AS (SELECT vec_id, cluster FROM a3
        |         UNION ALL SELECT vec_id, cluster FROM da),
        |allcodes AS (SELECT vec_id, j, code FROM pcodes
        |             UNION ALL SELECT vec_id, j, code FROM dcode),
        |cbytes AS (SELECT doc_id, ascii(substr(text, i.i, 1)) % 64 AS b
        |           FROM documents, unnest(range(1, length(text)+1)) AS i(i)
        |           WHERE doc_id < 10),
        |qflat AS (SELECT d.doc_id, r.d AS i,
        |            CAST(coalesce(count(cbytes.b), 0) AS DOUBLE) AS x
        |          FROM (SELECT DISTINCT doc_id FROM documents
        |                WHERE doc_id < 10) d
        |          CROSS JOIN (SELECT unnest(range(64)) AS d) r
        |          LEFT JOIN cbytes ON cbytes.doc_id = d.doc_id
        |                          AND cbytes.b = r.d
        |          GROUP BY d.doc_id, r.d),
        |qd AS (SELECT f.doc_id, c.cluster,
        |         round(sum((f.x - c.c) * (f.x - c.c)), 6) AS dist
        |       FROM qflat f JOIN c2 c ON c.i = f.i GROUP BY 1, 2),
        |qa AS (SELECT doc_id, cluster FROM (
        |         SELECT doc_id, cluster, row_number() OVER (
        |           PARTITION BY doc_id ORDER BY dist, cluster) AS rk
        |         FROM qd) WHERE rk = 1),
        |qsub AS (SELECT doc_id, i // 16 AS j, i % 16 AS si, x FROM qflat),
        |qlt AS (SELECT s.doc_id AS query_id, s.j, c.code,
        |          round(sum((s.x - c.c) * (s.x - c.c)), 6) AS d
        |        FROM qsub s JOIN pcb1 c ON c.j = s.j AND c.si = s.si
        |        GROUP BY 1, 2, 3),
        |sc AS (SELECT l.query_id, t.vec_id,
        |         $duckAdcSum AS adist
        |       FROM allcodes t
        |       JOIN qlt l ON l.j = t.j AND l.code = t.code
        |       JOIN allc ct ON ct.vec_id = t.vec_id
        |       JOIN qa cq ON cq.doc_id = l.query_id
        |         AND cq.cluster = ct.cluster
        |       GROUP BY 1, 2),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |             ORDER BY adist, vec_id) AS rn FROM sc)
        |SELECT query_id, vec_id, adist, CAST(rn AS INTEGER) AS rn
        |FROM ranked WHERE rn <= 3
        |ORDER BY query_id, rn""") { (s, dir) =>
      streamXModalRetrieval(s, dir)
    },

    // ----- q252: CELL MERGE — the inverse of q247's split and the
    // COLD-cell maintenance action (q244's histogram flags both
    // tails: a hot cell splits, a cell whose share collapses after a
    // drift reversal wastes a router slot and a directory — it merges
    // back into its family). Same-family only: within a family the
    // probe candidate set is the family union, so moving postings
    // between its leaves can never change a probe result (the split
    // argument run backwards; AnnMaintSpec pins split→merge probe
    // invariance and postings restoration). The lower id absorbs, the
    // survivor centroid becomes the count-weighted mean for future
    // routing, rows keep their commit epochs (as-of reads stay
    // meaningful), and exactly two partitions change — the absorbed
    // directory is deleted, the survivor's gains files, everything
    // else is byte-stable. The registered pass round-trips the
    // lifecycle (split the largest cell, merge it back), so the
    // oracle is the pure fit+assignment histogram with identity
    // lineage — any row the maintenance pair leaks or duplicates
    // fails the hash. -----
    q("q252_ann_index_merge",
      s"""WITH ${duckLloydCtes(8, 2, "WHERE vec_id % 10 <> 9")},
        |de AS (SELECT vec_id, embedding FROM embeddings
        |       WHERE vec_id % 10 = 9),
        |dflat AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |                 unnest(range(len(embedding))) AS i FROM de),
        |dd AS (SELECT f.vec_id, c.cluster,
        |         round(sum((f.x - c.c) * (f.x - c.c)), 6) AS dist
        |       FROM dflat f JOIN c2 c ON c.i = f.i GROUP BY 1, 2),
        |da AS (SELECT vec_id, cluster FROM (
        |         SELECT vec_id, cluster, row_number() OVER (
        |           PARTITION BY vec_id ORDER BY dist, cluster) AS rk
        |         FROM dd) WHERE rk = 1),
        |allc AS (SELECT vec_id, cluster FROM a3
        |         UNION ALL SELECT vec_id, cluster FROM da),
        |h AS (SELECT cluster, count(*) AS n_vecs FROM allc
        |      GROUP BY cluster),
        |t AS (SELECT sum(n_vecs) AS tot FROM h)
        |SELECT CAST(h.cluster AS INTEGER) AS cluster,
        |  CAST(h.cluster AS INTEGER) AS family,
        |  CAST(h.n_vecs AS BIGINT) AS n_vecs,
        |  CAST(1000 * h.n_vecs // t.tot AS BIGINT) AS permille
        |FROM h, t ORDER BY cluster""") { (s, dir) =>
      annIndexMerge(s, dir)
    }
  )

  /** q247's engine: the full save → ingest → split lifecycle, then
    * the post-split per-cell report with family lineage. */
  private[pipeline] def annIndexSplitHealth(s: SparkSession,
      dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    val corpus = e.filter(col("vec_id") % 10 =!= 9)
    val idxPath = Dedup.scratchDir("graft-annsplit-idx")
    AnnIndex.save(s, corpus, idxPath)
    AnnIndex.append(
      AnnIndex.assigner(s, idxPath)(e.filter(col("vec_id") % 10 === 9)),
      idxPath, epoch = 0L)
    // the maintenance target: the LARGEST cell, ties to the lowest id
    // (q244's hot flag is the production trigger; largest always
    // exists, so the registered pass always exercises the machinery)
    val target = s.read.parquet(s"$idxPath/postings")
      .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("cluster")).head.getInt(0)
    AnnIndex.splitCell(s, e, idxPath, target)
    val h = s.read.parquet(s"$idxPath/postings")
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_vecs"))
    h.join(broadcast(AnnIndex.families(s, idxPath)), "cluster")
      .crossJoin(broadcast(h.agg(sum(col("n_vecs")).as("tot"))))
      .select(col("cluster").cast("int").as("cluster"),
        col("family").cast("int").as("family"),
        col("n_vecs").cast("long").as("n_vecs"),
        expr("1000 * n_vecs div tot").cast("long").as("permille"))
      .orderBy(col("cluster"))
  }

  /** q248's engine: caption queries (deterministic 64-bucket byte
    * histogram — the decode stub; a production pipeline plugs its
    * caption-tower embedding here) through the SAME family-expanded
    * partition-pruned probe q242's vector queries use. */
  private[pipeline] def crossModalRetrieval(s: SparkSession,
      dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    val corpus = e.filter(col("vec_id") % 10 =!= 9)
    val idxPath = Dedup.scratchDir("graft-xmodal-idx")
    AnnIndex.save(s, corpus, idxPath)
    val fn = AnnIndex.assigner(s, idxPath)
    AnnIndex.append(fn(e.filter(col("vec_id") % 10 === 9)), idxPath,
      epoch = 0L)
    // materialized BEFORE the probe: CollapseProject would otherwise
    // inline this (interpreted, O(len²·64)) featurizer into every one
    // of the assigner's + LUT's ~24 distance expressions — measured
    // 560 s of single-task CPU on 10 captions at z100 (r17 probe log)
    val captions = captionFeatures(
        Tables.t(s, dir, "documents").filter(col("doc_id") < 10))
      .localCheckpoint()
    annProbe(s, idxPath, captions, excludeSelf = false)
  }

  /** The caption-tower featurizer STUB shared by q248 (batch) and
    * q251 (at-ingest): a 64-bucket byte histogram per caption —
    * deterministic, per-row, aggregation-free (streaming-legal). A
    * production pipeline swaps in its caption-tower embedding here;
    * everything downstream is modality-blind. Callers MUST
    * materialize (localCheckpoint) before probing — see the
    * CollapseProject note at the q248 call site. */
  private def captionFeatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("vec_id"), expr(
      """transform(sequence(0, 63), d ->
        |  CAST(size(filter(sequence(1, length(text)),
        |    i -> ascii(substr(text, i, 1)) % 64 = d)) AS DOUBLE))"""
        .stripMargin).as("embedding"))

  /** q249's engine: build the index, commit TWO ingest windows (the
    * delta's even-decade ids as epoch 0, the rest as epoch 1), then
    * probe AS-OF epoch 0 — the epoch-1 window must be invisible to
    * the candidates (the oracle replays only window 0). */
  private[pipeline] def annIndexAsOf(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    val corpus = e.filter(col("vec_id") % 10 =!= 9)
    val idxPath = Dedup.scratchDir("graft-annasof-idx")
    AnnIndex.save(s, corpus, idxPath)
    val fn = AnnIndex.assigner(s, idxPath)
    val delta = e.filter(col("vec_id") % 10 === 9)
    AnnIndex.append(fn(delta.filter(expr("(vec_id div 10) % 2 = 0"))),
      idxPath, epoch = 0L)
    AnnIndex.append(fn(delta.filter(expr("(vec_id div 10) % 2 = 1"))),
      idxPath, epoch = 1L)
    annProbe(s, idxPath,
      corpus.filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding")),
      excludeSelf = true, asOfEpoch = Some(0L))
  }

  /** q252's engine: split the largest cell, merge it straight back
    * (the maintenance round-trip), then the health+lineage report —
    * which must equal the pure fit+assignment histogram. */
  private[pipeline] def annIndexMerge(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    val corpus = e.filter(col("vec_id") % 10 =!= 9)
    val idxPath = Dedup.scratchDir("graft-annmg-idx")
    AnnIndex.save(s, corpus, idxPath)
    AnnIndex.append(
      AnnIndex.assigner(s, idxPath)(e.filter(col("vec_id") % 10 === 9)),
      idxPath, epoch = 0L)
    val target = s.read.parquet(s"$idxPath/postings")
      .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("cluster")).head.getInt(0)
    val (parent, child1, _) = AnnIndex.splitCell(s, e, idxPath, target)
    AnnIndex.mergeCells(s, idxPath, parent, child1)
    val h = s.read.parquet(s"$idxPath/postings")
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_vecs"))
    h.join(broadcast(AnnIndex.families(s, idxPath)), "cluster")
      .crossJoin(broadcast(h.agg(sum(col("n_vecs")).as("tot"))))
      .select(col("cluster").cast("int").as("cluster"),
        col("family").cast("int").as("family"),
        col("n_vecs").cast("long").as("n_vecs"),
        expr("1000 * n_vecs div tot").cast("long").as("permille"))
      .orderBy(col("cluster"))
  }

  /** q250's engine: the save → ingest → compact lifecycle; returns
    * [[AnnIndex.compact]]'s per-cell GC report. */
  private[pipeline] def annIndexCompact(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    val corpus = e.filter(col("vec_id") % 10 =!= 9)
    val idxPath = Dedup.scratchDir("graft-anngc-idx")
    AnnIndex.save(s, corpus, idxPath)
    AnnIndex.append(
      AnnIndex.assigner(s, idxPath)(e.filter(col("vec_id") % 10 === 9)),
      idxPath, epoch = 0L)
    AnnIndex.compact(s, idxPath)
  }

  /** q251's engine: captions STREAM in; each micro-batch featurizes
    * per-row and probes the frozen media index through the batch
    * path inside foreachBatch (the q238 device — a micro-batch is a
    * batch frame, so annProbe's driver-side cluster collect and
    * static partition IN filter apply per batch). Every query is one
    * row, so its top-k completes within its own micro-batch:
    * deterministic under any schedule, replayed by q248's oracle. */
  private[pipeline] def streamXModalRetrieval(s: SparkSession,
      dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    val corpus = e.filter(col("vec_id") % 10 =!= 9)
    val idxPath = Dedup.scratchDir("graft-xmstream-idx")
    AnnIndex.save(s, corpus, idxPath)
    val fn = AnnIndex.assigner(s, idxPath)
    AnnIndex.append(fn(e.filter(col("vec_id") % 10 === 9)), idxPath,
      epoch = 0L)
    val stream = Tables.stream(s, dir, "documents")
      .filter(col("doc_id") < 10)
    val outPath = Dedup.scratchDir("graft-xmstream-out")
    // schema seed (the q185 device): an empty caption stream must
    // leave outPath readable with the probe's output schema
    annProbe(s, idxPath,
      captionFeatures(Tables.t(s, dir, "documents")).limit(0)
        .localCheckpoint(),
      excludeSelf = false)
      .write.mode("overwrite").parquet(outPath)
    Drain(stream.writeStream
      .option("checkpointLocation", Dedup.scratchDir("graft-xmstream-ckpt"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val caps = captionFeatures(batch).localCheckpoint()
        if (!caps.isEmpty)
          annProbe(s, idxPath, caps, excludeSelf = false)
            .write.mode("append").parquet(outPath)
      })
    s.read.parquet(outPath).orderBy(col("query_id"), col("rn"))
  }

  /** q246's engine: frozen-index per-row assignment inside a
    * watermark-sealed windowed count. */
  private[pipeline] def streamCellDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sq = s.sqlContext
    val e = Tables.t(s, dir, "embeddings")
    val corpus = e.filter(col("vec_id") % 10 =!= 9)
    val idxPath = Dedup.scratchDir("graft-anndrift-idx")
    AnnIndex.save(s, corpus, idxPath)
    val fn = AnnIndex.assigner(s, idxPath)
    // ≡ 9 (mod 10): the sentinel must PASS the delta filter (Catalyst
    // pushes it through the union below the watermark node)
    val sentinelSec = 4102444809L
    val maxId = e.agg(max(col("vec_id").cast("long"))).head.getLong(0)
    require(maxId + 1 < sentinelSec,
      s"vec_id $maxId reaches the watermark sentinel epoch $sentinelSec")
    val sentinel = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    sentinel.addData((sentinelSec, Array.fill(64)(0f)))
    val stream = Tables.stream(s, dir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .unionByName(sentinel.toDF().toDF("vec_id", "embedding"))
      .filter(col("vec_id") % 10 === 9)
    val agg = fn(stream)
      .withColumn("ts", expr("timestamp_seconds(vec_id + 1)"))
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "100 seconds"), col("cluster"))
      .agg(count(lit(1)).as("n_arrivals"))
    Drain.toMemory(agg, "graft_stream_cell_drift", "append")._1
      .select(col("window.start").as("w_start"), col("cluster"),
        col("n_arrivals"))
      .orderBy(col("w_start"), col("cluster"))
  }

  /** q244's engine: the full save→ingest lifecycle, then one
    * histogram over the postings table's PARTITION column. */
  private[pipeline] def annIndexHealth(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    val corpus = e.filter(col("vec_id") % 10 =!= 9)
    val idxPath = Dedup.scratchDir("graft-annh-idx")
    AnnIndex.save(s, corpus, idxPath)
    AnnIndex.append(
      AnnIndex.assigner(s, idxPath)(e.filter(col("vec_id") % 10 === 9)),
      idxPath, epoch = 0L)
    val h = s.read.parquet(s"$idxPath/postings")
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_vecs"))
    h.crossJoin(broadcast(
        h.agg(sum(col("n_vecs")).as("tot"), count(lit(1)).as("k"))))
      .select(col("cluster").cast("int").as("cluster"),
        col("n_vecs").cast("long").as("n_vecs"),
        expr("1000 * n_vecs div tot").cast("long").as("permille"),
        (col("n_vecs") * col("k") > col("tot") * 2).cast("int").as("hot"))
      .orderBy(col("cluster"))
  }

  /** q242's engine: build + ingest the persisted index, then probe it
    * reading ONLY the queries' cluster partitions. */
  private[pipeline] def annIndexTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    val corpus = e.filter(col("vec_id") % 10 =!= 9)
    val idxPath = Dedup.scratchDir("graft-annq-idx")
    AnnIndex.save(s, corpus, idxPath)
    val fn = AnnIndex.assigner(s, idxPath)
    // today's arrivals join the standing index before the probe
    // (q238's per-row path; batch-vs-stream is a non-difference for a
    // stateless per-row map, which AnnIngestSpec pins)
    AnnIndex.append(fn(e.filter(col("vec_id") % 10 === 9)), idxPath,
      epoch = 0L)
    annProbe(s, idxPath,
      corpus.filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding")),
      excludeSelf = true)
  }

  /** FAMILY-EXPANDED, partition-pruned probe of a persisted
    * [[AnnIndex]] — the read side shared by q242 (vector queries) and
    * q248 (caption-featurized cross-modal queries). Queries
    * (vec_id, embedding — any numeric array matching the index dim)
    * assign against the frozen model, expand their cluster to its
    * SPLIT FAMILY (identity on an unsplit index), and ADC-score only
    * that family's postings partitions: the probe's candidate set is
    * the family union, so [[AnnIndex.splitCell]] — which merely
    * repartitions one family's vectors among its leaves — can never
    * change probe results (AnnMaintSpec pins bit-equality across a
    * split). The geometry (m, subspace widths) reads from the
    * persisted codebooks; the leaf list collects driver-side
    * (model-sized) into a STATIC IN filter, so a 1000-cell 100 TB
    * index reads ≤ |query families' leaves| directories. */
  private[graft] def annProbe(s: SparkSession, idxPath: String,
      queries: DataFrame, excludeSelf: Boolean,
      asOfEpoch: Option[Long] = None): DataFrame = {
    // r17 OPT: the model reads ONCE into driver arrays — pre-r17 the
    // assigner, the LUT's codebook join and the family map each
    // re-read the same two (broadcast-class) model files, and the
    // query-cluster frame was both collected AND re-executed for the
    // broadcast join. One readModel + one qCl collect now feed every
    // consumer (literal frames), identical values by the parquet
    // round-trip contract.
    val model = AnnIndex.readModel(s, idxPath)
    val (centArr, cbArr) = model
    val fn = AnnIndex.assignerFrom(model)
    val famMap: Map[Int, Int] = {
      val idMap = centArr.map(c => c._1.toInt -> c._1.toInt).toMap
      val f = new java.io.File(s"$idxPath/model/families")
      if (f.isDirectory)
        idMap ++ s.read.parquet(s"$idxPath/model/families")
          .select(col("cluster").cast("int"), col("family").cast("int"))
          .collect().map(r => r.getInt(0) -> r.getInt(1))
          .filter(kv => idMap.contains(kv._1))
      else idMap
    }
    // queries are probe-sized by the fixed-query contract: collect the
    // assignment once, feed the join side as a literal frame
    val qClArr = fn(queries)
      .select(col("vec_id").as("query_id"), col("cluster").as("q_cluster"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    import org.apache.spark.sql.types._
    val qCl = s.createDataFrame(
      java.util.Arrays.asList(qClArr.map(q =>
        org.apache.spark.sql.Row(q._1, q._2)): _*),
      StructType(Seq(StructField("query_id", LongType, nullable = false),
        StructField("q_cluster", IntegerType, nullable = false))))
    val cb = s.createDataFrame(
      java.util.Arrays.asList(cbArr.toSeq.sortBy(_._1).flatMap {
        case (j, rows) => rows.map(r =>
          org.apache.spark.sql.Row(j, r._1.toInt, r._2))
      }: _*),
      StructType(Seq(StructField("j", IntegerType, nullable = false),
        StructField("code", IntegerType, nullable = false),
        StructField("cv", ArrayType(DoubleType, containsNull = false),
          nullable = true))))
    val widths = cbArr.map { case (j, rows) => j -> rows.head._2.length }
    val m = widths.keys.max + 1
    val offs = (0 until m).scanLeft(0)((a, j) => a + widths(j))
    val famLit = typedLit(famMap)
    val lut = edOf(queries)
      .select(col("vec_id").as("query_id"), explode(array((0 until m).map(
        j => struct(lit(j).as("j"),
          slice(col("ev"), offs(j) + 1, widths(j)).as("sv"))): _*)).as("p"))
      .select(col("query_id"), col("p.j").as("j"), col("p.sv").as("sv"))
      .join(broadcast(cb), "j")
      .select(col("query_id"), col("j"), col("code"),
        round(VecMath.vec_sq_dist(col("sv"), col("cv")), 6).as("d"))
      .join(broadcast(qCl
        .withColumn("q_family", element_at(famLit, col("q_cluster")))),
        "query_id")
    // the query families' LEAVES, collected driver-side into the
    // static partition filter the postings scan must prune to
    val qFams = qClArr.map(q => famMap(q._2)).toSet
    val leaves = famMap.collect { case (c, f) if qFams(f) => c }.toSeq
    // asOfEpoch is TIME TRAVEL over the commit history: postings
    // partition on (cluster, epoch), so `epoch <= E` prunes every
    // later commit's directories in the SAME PartitionFilters node
    // the cluster IN prunes cells — yesterday's retrieval re-runs
    // bit-exactly without snapshotting the index (q249; PlanSpec pins
    // the two-dimensional prune on the executed scan)
    val postings0 = s.read.parquet(s"$idxPath/postings")
      .filter(col("cluster").isin(leaves.map(c => c: Any): _*))
    val postings = asOfEpoch.fold(postings0)(e =>
      postings0.filter(col("epoch") <= lit(e)))
    val codes = postings.select(col("vec_id"),
      element_at(famLit, col("cluster").cast("int")).as("family"),
      posexplode(array((0 until m).map(j => col(s"c$j")): _*))
        .as(Seq("j", "code")))
    val pairs = codes.join(broadcast(lut), Seq("j", "code"))
      .filter(col("family") === col("q_family"))
    adcTop3(if (excludeSelf)
      pairs.filter(col("vec_id") =!= col("query_id")) else pairs, m)
  }

  /** q238's engine: save the frozen index from the corpus slice,
    * stream the delta slice through the persisted model's per-row
    * assigner, append postings at day close, return the ingested
    * assignments. */
  private[pipeline] def streamAnnIngest(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    val corpus = e.filter(col("vec_id") % 10 =!= 9)
    val idxPath = Dedup.scratchDir("graft-ann-idx")
    AnnIndex.save(s, corpus, idxPath)
    val fn = AnnIndex.assigner(s, idxPath)
    val stream = Tables.stream(s, dir, "embeddings")
      .filter(col("vec_id") % 10 === 9)
      .select(col("vec_id"), col("embedding"))
    val outPath = Dedup.scratchDir("graft-ann-out")
    // schema seed (the q185 device): an empty delta slice must leave
    // outPath readable
    fn(corpus.limit(0)).write.mode("overwrite").parquet(outPath)
    Drain(stream.writeStream
      .option("checkpointLocation", Dedup.scratchDir("graft-ann-ckpt"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // per batch: the per-row assignment and ONE flat parquet
        // append (the exactly-once-store stand-in). r18 OPT: the
        // index-partition append moved to day close below — the
        // pre-r18 loop paid AnnIndex.append's repartition(cluster) +
        // partitioned write PER MICRO-BATCH, exactly the work the
        // scaladoc's "append postings at day close" posture defers;
        // the index ends in the same state (same rows, epoch 0).
        fn(batch).write.mode("append").parquet(outPath)
      })
    AnnIndex.append(s.read.parquet(outPath), idxPath, epoch = 0L)
    s.read.parquet(outPath)
      .select(col("vec_id"), col("cluster"), col("c0"), col("c1"),
        col("c2"), col("c3"))
      .orderBy(col("vec_id"))
  }

  /** The H·D rotation of q200 as a MAP over (vec_id, ev):
    * w_j[i] = s_i · (−1)^popcount(i∧j), scaled 1/√64 — an exact
    * isometry (RotatedPqSpec pins distance preservation), built on
    * the driver because it is data-independent. */
  private[pipeline] def rotateHD(e: DataFrame): DataFrame = {
    val dim = 64
    def sgn(i: Int): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"s:$i".getBytes("UTF-8"))
      if (((d(0) >> 4) & 1) == 0) 1.0 else -1.0 // first hex digit even
    }
    // w_j[i] = s_i · (−1)^popcount(i∧j): ±1 entries, so every product
    // in the dot fold is an exact sign flip — only the 64-term sum
    // carries fp error, absorbed by the house 6-dp round
    def w(j: Int): Seq[Double] = (0 until dim).map(i =>
      sgn(i) * (if (Integer.bitCount(i & j) % 2 == 0) 1.0 else -1.0))
    // rotated coords stay UNROUNDED: a 6-dp round here would turn
    // every downstream PQ distance into an exact short decimal and
    // make round-half ties between the engines PROBABLE (observed on
    // this data); messy doubles keep the tie probability negligible,
    // and the chain's own 6-dp rounds absorb the sum-order ulps
    e.select(col("vec_id"), array((0 until dim).map(j =>
      (VecMath.vec_dot(col("ev"), typedlit(w(j))) / 8.0)): _*)
      .as("ev"))
  }

  /** Spec probe for the rotation's isometry: for adjacent-id vector
    * pairs, (‖a−b‖, ‖r(a)−r(b)‖, ‖a‖, ‖r(a)‖). */
  private[pipeline] def rotatedTestPair(s: SparkSession, dir: String)
      : Array[(Double, Double, Double, Double)] = {
    import s.implicits._
    val e = edOf(Tables.t(s, dir, "embeddings")).limit(32)
    def dists(d: DataFrame): DataFrame = {
      val a = d.select(col("vec_id").as("ai"), col("ev").as("av"))
      val b = d.select(col("vec_id").as("bi"), col("ev").as("bv"))
      a.join(b, col("bi") === col("ai") + 1)
        .select(col("ai"),
          sqrt(VecMath.vec_dot(col("av"), col("av"))
            - lit(2) * VecMath.vec_dot(col("av"), col("bv"))
            + VecMath.vec_dot(col("bv"), col("bv"))).as("dist"),
          sqrt(VecMath.vec_dot(col("av"), col("av"))).as("nrm"))
    }
    dists(e).as("o").join(dists(rotateHD(e)).as("r"), "ai")
      .select(col("o.dist"), col("r.dist"), col("o.nrm"), col("r.nrm"))
      .as[(Double, Double, Double, Double)].collect()
  }

  /** q200 body: driver-built H·D rotation (map-only) + the q186 PQ
    * chain on the rotated coordinates. */
  private[pipeline] def rotatedPqTopK(s: SparkSession, dir: String): DataFrame = {
    val rot = rotateHD(edOf(Tables.t(s, dir, "embeddings")))
    val (svs, cb1, codes) = pqModel(rot)
    val lt = pqLookup(svs, cb1)
    adcTop3(codes.filter(col("vec_id") >= 10)
      .join(broadcast(lt), Seq("j", "code")))
  }

  /** q198 body: bounded-agg shortlist, then k=3 relational greedy
    * argmax steps over the (queries × 8)-row candidate frame. */
  private def mmrTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "embeddings")
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        normExpr("embedding").as("q_nrm"))
    val corpus = e.select(col("vec_id"), col("embedding").as("ev"),
      normExpr("embedding").as("e_nrm"))
    // relevance shortlist: the q56 shape — corpus scanned once, per-
    // partition bounded top-8 merged per query, ≤ queries×8 shuffled
    val cand = corpus
      .join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .withColumn("rel", round(VecMath.vec_dot(col("qv"), col("ev"))
        / (col("q_nrm") * col("e_nrm")), 6))
      .groupBy(col("query_id"))
      .agg(TopK.topK(8)(col("rel"), col("vec_id")).as("top"))
      .select(col("query_id"), explode(col("top")).as("c"))
      .select(col("query_id"), col("c.id").as("vec_id"),
        col("c.score").as("rel"))
      .localCheckpoint() // queries×8 rows feed psim + 3 greedy steps
    // pairwise candidate sims: shortlist² per query, vectors fetched
    // back by an id equi-join (the corpus is NOT rescanned per pair)
    val cv = cand.select(col("query_id"), col("vec_id"))
      .join(e.select(col("vec_id"), col("embedding").as("v"),
        normExpr("embedding").as("n")), "vec_id")
    val psim = cv.alias("a")
      .join(cv.alias("b"), col("a.query_id") === col("b.query_id")
        && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.query_id").as("query_id"), col("a.vec_id").as("a"),
        col("b.vec_id").as("b"),
        round(VecMath.vec_dot(col("a.v"), col("b.v"))
          / (col("a.n") * col("b.n")), 6).as("sim"))
      .localCheckpoint()
    def argmax(df: DataFrame, score: org.apache.spark.sql.Column,
        vName: String, mName: String): DataFrame =
      df.withColumn("sc", score)
        .groupBy(col("query_id"))
        .agg(min(struct((-col("sc")).as("ns"), col("vec_id").as("id"))).as("m"))
        .select(col("query_id"), col("m.id").as(vName), (-col("m.ns")).as(mName))
    val s1 = argmax(cand, lit(0.7) * col("rel"), "v1", "m1")
    val st2 = cand.join(s1, "query_id").filter(col("vec_id") =!= col("v1"))
      .join(psim.select(col("query_id"), col("a").as("vec_id"),
        col("b"), col("sim")), Seq("query_id", "vec_id"))
      .filter(col("b") === col("v1"))
    val s2 = argmax(st2, lit(0.7) * col("rel") - lit(0.3) * col("sim"), "v2", "m2")
    val sel12 = s1.select(col("query_id"), col("v1").as("sel"))
      .union(s2.select(col("query_id"), col("v2").as("sel")))
    val pen3 = psim.join(sel12, Seq("query_id"))
      .filter(col("b") === col("sel"))
      .groupBy(col("query_id"), col("a").as("vec_id"))
      .agg(max(col("sim")).as("pen"))
    val st3 = cand.join(s1, "query_id").join(s2, "query_id")
      .filter(col("vec_id") =!= col("v1") && col("vec_id") =!= col("v2"))
      .join(pen3, Seq("query_id", "vec_id"))
    val s3 = argmax(st3, lit(0.7) * col("rel") - lit(0.3) * col("pen"), "v3", "m3")
    // NO output re-round: λ·rel and λ·rel−(1−λ)·pen are products of
    // 6-dp-rounded inputs — bit-identical in both engines — while a
    // 7th-dp round() would sit exactly on half-way ties the two
    // engines break differently
    s1.select(col("query_id"), lit(1).cast("int").as("rn"),
        col("v1").as("vec_id"), col("m1").as("mmr"))
      .union(s2.select(col("query_id"), lit(2).cast("int"),
        col("v2"), col("m2")))
      .union(s3.select(col("query_id"), lit(3).cast("int"),
        col("v3"), col("m3")))
      .orderBy(col("query_id"), col("rn"))
  }
}
