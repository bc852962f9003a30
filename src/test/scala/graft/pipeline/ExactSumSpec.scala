package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the r18 LONG-MICROS exact-sum device (q177 BM25 scores, q171
  * perplexity, q172's streaming state) against both prior
  * representations — the r17 DECIMAL(28,6) sum and the pre-r17
  * pinned-order double fold — so the co-edited engine/oracle pair
  * (r17 verdict "What's wrong" item 1) is protected by constructed
  * boundary cases, not just the corpus sweep.
  *
  * The chain being certified: each contribution c is round(x, 6) — the
  * double NEAREST to some integer n of micro-units (|n| ≤ 2.5e7 for
  * every registered consumer: BM25 |c| ≤ ~25, perplexity |c| ≤
  * log2(corpus bigrams) ≪ 25). Then
  *   1. floor(c·1e6 + 0.5) recovers n EXACTLY (c·1e6 lands within
  *      ~1e-8·|n| ≤ 0.25 of n — never at the .5 boundary), so the
  *      long sum is the exact integer Σn;
  *   2. Σn < 2⁵³, so (Σn).toDouble / 1e6 is the correctly-rounded
  *      double of Σn·10⁻⁶ — the same value CAST(SUM(DECIMAL(28,6))
  *      AS DOUBLE) yields (the DuckDB oracle's arithmetic);
  *   3. the pre-r17 double fold agrees after the output-boundary
  *      round(·, 4) (its fp drift is ~1e-13, eight orders below the
  *      half-ulp of a 4-dp round for these magnitudes).
  */
class ExactSumSpec extends SparkSpec {

  /** Adversarial micro-unit values: extremes of the consumer bound,
    * repunit/carry patterns, half-pattern neighbors, tiny values, and
    * a deterministic pseudo-random spread. */
  private val boundaryMicros: Seq[Long] = {
    val fixed = Seq(0L, 1L, -1L, 2L, 499999L, 500000L, 500001L,
      999999L, 1000000L, 1000001L, 3333333L, 6666667L, 12499999L,
      12500000L, 24999999L, 25000000L, -24999999L, -25000000L,
      -999999L, -500001L, -500000L, 1L << 24, (1L << 24) + 1)
    val rng = new scala.util.Random(42)
    fixed ++ (1 to 400).map(_ => rng.nextLong() % 25000000L)
  }

  test("floor(c*1e6 + 0.5) recovers the 6-dp micro-units exactly on boundary cases") {
    for (n <- boundaryMicros) {
      // c as every producer emits it: the double nearest to n·1e-6
      // (Spark's round(x, 6) is HALF_UP BigDecimal → nearest double)
      val c = BigDecimal(n, 6).toDouble
      val recovered = math.floor(c * 1e6 + 0.5).toLong
      assert(recovered == n,
        s"micros $n: c=$c recovered $recovered")
    }
  }

  test("Spark long-micros sum == decimal(28,6) sum == 4-dp-rounded fold on boundary groups") {
    import spark.implicits._
    // groups deliberately mix signs and magnitudes; group 'g' keys
    // replicate the (query, doc) grouping shape
    val rng = new scala.util.Random(7)
    val rows = (0 until 64).flatMap { g =>
      val sz = 1 + rng.nextInt(200)
      (0 until sz).map { _ =>
        val n = boundaryMicros(rng.nextInt(boundaryMicros.length))
        (g, BigDecimal(n, 6).toDouble)
      }
    }
    val df = rows.toDF("g", "c").repartition(4).localCheckpoint()
    val micros = df.groupBy(col("g"))
      .agg((sum(floor(col("c") * lit(1e6) + lit(0.5)).cast("long"))
        .cast("double") / lit(1e6)).as("s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val dec = df.groupBy(col("g"))
      .agg(sum(col("c").cast("decimal(28,6)")).cast("double").as("s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // the pre-r17 pinned-order fold (sorted by value here — any
    // deterministic order; the fold is the REPRESENTATION under test)
    val fold = df.groupBy(col("g"))
      .agg(expr("""aggregate(array_sort(collect_list(c)),
        CAST(0 AS DOUBLE), (a, x) -> a + x)""").as("s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    for ((g, s) <- micros) {
      assert(s == dec(g), s"group $g: micros $s != decimal ${dec(g)}")
      val r4m = BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      val r4f = BigDecimal(fold(g)).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      assert(r4m == r4f, s"group $g: 4-dp micros $r4m != fold $r4f")
    }
    // ground truth: exact BigDecimal sums per group
    val exact = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(r => BigDecimal(r._2).setScale(6,
        BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
    }
    for ((g, s) <- micros)
      assert(s == exact(g), s"group $g: micros $s != exact ${exact(g)}")
  }

  test("q177 registry output is identical under fold, decimal and micros sums") {
    import graft.functions.TopK
    val contrib = TextAnalysis.bm25Contrib(spark, sf).localCheckpoint()
    def finish(scored: org.apache.spark.sql.DataFrame) = scored
      .groupBy(col("query_id"))
      .agg(TopK.topK(3)(round(col("score"), 4), col("doc_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("int").as("rn"))
      .orderBy(col("query_id"), col("rn"))
      .collect().map(_.toString).toSeq
    val micros = finish(contrib.groupBy(col("query_id"), col("doc_id"))
      .agg((sum(floor(col("c") * lit(1e6) + lit(0.5)).cast("long"))
        .cast("double") / lit(1e6)).as("score")))
    val dec = finish(contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c").cast("decimal(28,6)")).cast("double").as("score")))
    val fold = finish(contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(expr(
        """aggregate(transform(array_sort(collect_list(struct(hw, c))),
          |  s -> s.c), CAST(0 AS DOUBLE), (a, x) -> a + x)""".stripMargin)
        .as("score")))
    assert(micros == dec, "micros vs decimal q177 outputs differ")
    assert(micros == fold, "micros vs fold q177 outputs differ")
  }

  test("q171 perplexity output is identical under decimal and micros sums") {
    // the registered engine (micros) against a decimal-sum twin of the
    // same term frame — the perplexity pin the r17 verdict asked for
    val reg = graft.Registry.all.find(_.name == "q171_perplexity_filter").get
      .fn(spark, sf).collect().map(_.toString).toSeq
    val terms = TextAnalysis
      .perplexityTermsRaw(graft.Tables.t(spark, sf, "documents"))
      .select(col("doc_id"), round(col("raw"), 6).as("term"))
    val dec = terms
      .groupBy(col("doc_id"))
      .agg(sum(col("term").cast("decimal(28,6)")).cast("double").as("hsum"),
        count(lit(1)).as("n"))
      .select(col("doc_id"), col("n").cast("int").as("n_bigrams"),
        round(col("hsum") / col("n"), 4).as("bits_per_word"))
      .withColumn("keep", (col("bits_per_word") <= 4.95).cast("int"))
      .orderBy(col("doc_id"))
      .collect().map(_.toString).toSeq
    assert(reg == dec, "q171 micros vs decimal outputs differ")
  }
}
