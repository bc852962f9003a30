package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The fused vector folds must be BIT-IDENTICAL to the zip_with +
  * aggregate composites they replaced (same left-to-right IEEE
  * order) — that equivalence is what keeps every DuckDB oracle in
  * the embedding family valid.
  */
class VecMathSpec extends SparkSpec {
  import spark.implicits._

  // deterministic pseudo-random float vectors (values exercise
  // non-associativity: widely varying magnitudes)
  private def vecs = (0 until 50).map { i =>
    (i.toLong, (0 until 64).map(j =>
      (math.sin(i * 64 + j) * math.pow(10, (i + j) % 7 - 3)).toFloat))
  }.toDF("id", "v")

  test("vec_dot / vec_norm bit-equal to the composite folds on float arrays") {
    val both = vecs.crossJoin(vecs.select(col("id").as("id2"), col("v").as("w")))
      .filter(col("id") < col("id2"))
      .select(
        VecMath.vec_dot(col("v"), col("w")).as("fused"),
        expr("""aggregate(zip_with(v, w, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
               |CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin).as("composite"),
        VecMath.vec_norm(col("v")).as("nrm_fused"),
        expr("""sqrt(aggregate(v, CAST(0 AS DOUBLE),
               |(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))""".stripMargin)
          .as("nrm_composite"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0))
        == java.lang.Double.doubleToLongBits(r.getDouble(1)), "dot diverged")
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2))
        == java.lang.Double.doubleToLongBits(r.getDouble(3)), "norm diverged")
    }
  }

  test("vec_sq_dist bit-equal to the composite on double arrays") {
    val d = vecs.select(col("id"),
      expr("transform(v, x -> CAST(x AS DOUBLE))").as("v"))
    val both = d.crossJoin(d.select(col("id").as("id2"), col("v").as("w")))
      .filter(col("id") < col("id2"))
      .select(
        VecMath.vec_sq_dist(col("v"), col("w")).as("fused"),
        expr("""aggregate(zip_with(v, w, (x, c) -> (x - c) * (x - c)),
               |CAST(0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin).as("composite"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0))
        == java.lang.Double.doubleToLongBits(r.getDouble(1)), "sq_dist diverged")
    }
  }

  test("length mismatch fails fast; nulls pass through the expression") {
    val df = Seq((Seq(1.0f, 2.0f), Seq(1.0f))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(VecMath.vec_dot(col("a"), col("b"))).collect()
    }
    assert(e.getMessage != null)
    val r = Seq((Some(Seq(1.0f, 2.0f)), Option.empty[Seq[Float]]))
      .toDF("a", "b")
      .select(VecMath.vec_dot(col("a"), col("b"))).collect()
    assert(r(0).isNullAt(0))
  }

  test("non-array and non-float/double array inputs fail at analysis, not runtime") {
    // r9 advice: a string column used to die with a ClassCastException
    // at plan time, and array<int> silently read int-packed bytes as
    // doubles (garbage). Both must now be clean analysis errors.
    val df = Seq((1L, "oops", Seq(1, 2, 3), Seq(1.0f, 2.0f, 3.0f)))
      .toDF("id", "s", "ints", "fs")
    for (bad <- Seq(col("s"), col("ints"))) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(VecMath.vec_dot(bad, col("fs"))).collect()
      }
      assert(e.getMessage.contains("array<float> or array<double>"), e.getMessage)
      val e2 = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(VecMath.vec_sq_dist(col("fs"), bad)).collect()
      }
      assert(e2.getMessage.contains("array<float> or array<double>"), e2.getMessage)
      val e3 = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(VecMath.vec_nearest_index(bad, Seq(0L -> Seq(0.0, 0.0, 0.0)))).collect()
      }
      assert(e3.getMessage.contains("array<float> or array<double>"), e3.getMessage)
    }
    // the valid element types still pass analysis
    df.select(VecMath.vec_dot(col("fs"), col("fs"))).collect()
  }

  test("vec_nearest_index: ties to lowest, early exit safe, codegen runs") {
    val cents = Seq(Seq(0.0, 0.0), Seq(10.0, 0.0), Seq(10.0, 0.0))
    val df = Seq(
      (0L, Seq(1.0, 0.0)),   // nearest 0
      (1L, Seq(9.0, 0.0)),   // nearest 1 (tie with 2 → lowest)
      (2L, Seq(10.0, 0.0)),  // exact hit on 1 (tie with 2 → lowest)
      (3L, Seq(5.0, 0.0))    // equidistant 0/1/2 → 0
    ).toDF("id", "v")
    val out = df.select(col("id"),
        VecMath.vec_nearest_index(col("v"),
          cents.zipWithIndex.map { case (c, i) => (i.toLong, c) }).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 0, 1L -> 1, 2L -> 1, 3L -> 0))
  }

  /** The reference argmin the kernel replaced:
    * array_min(array(struct(round(vec_sq_dist(v, c), 6), id) …)). */
  private def referenceArgmin(v: Column, model: Seq[(Long, Seq[Double])]): Column =
    array_min(array(model.map { case (id, c) =>
      struct(round(VecMath.vec_sq_dist(v, typedLit(c)), 6).as("dist"),
        lit(id).as("id"))
    }: _*)).getField("id")

  /** (kernel, reference) per row of `rows` (id, v), through a
    * non-local plan so the projection really runs under `mode`. */
  private def compare(mode: String, model: Seq[(Long, Seq[Double])],
      rows: Seq[Row], vType: DataType): Unit = {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(vType, containsNull = false))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val out = df.select(col("id"),
        VecMath.vec_nearest_index(col("v"), model).as("k_all"),
        referenceArgmin(col("v"), model).as("r_all"))
      .collect()
    assert(out.length == rows.length)
    out.foreach { r =>
      assert(!r.isNullAt(1) && r.get(1) == r.get(2),
        s"$mode row ${r.getLong(0)}: kernel ${r.get(1)} vs reference ${r.get(2)}")
    }
  }

  private def underModes(body: String => Unit): Unit =
    Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").foreach {
      case (mode, wholeStage) =>
        spark.conf.set("spark.sql.codegen.factoryMode", mode)
        spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
        try body(mode)
        finally {
          spark.conf.unset("spark.sql.codegen.factoryMode")
          spark.conf.unset("spark.sql.codegen.wholeStage")
        }
    }

  /** Non-contiguous ids, deliberately out of position order, so the
    * lowest-id tie-break is not the lowest position. */
  private def ids(n: Int, rnd: scala.util.Random): Seq[Long] =
    rnd.shuffle((0 until n).map(i => 1000L - 37L * i))

  test("vec_nearest_index equals the rounded array_min reference on random float and double vectors") {
    val rnd = new scala.util.Random(42)
    val dim = 16
    val k = 24
    val model = ids(k, rnd).map(id =>
      id -> Seq.fill(dim)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(3) - 1)))
    def rows(toElem: Double => Any) = (0 until 120).map { i =>
      Row(i.toLong, Seq.fill(dim)(toElem(rnd.nextGaussian())))
    }
    underModes { mode =>
      compare(mode, model, rows(_.toFloat), FloatType)
      compare(mode, model, rows(identity), DoubleType)
    }
  }

  test("vec_nearest_index follows Spark's round(d, 6) at the 6-dp boundary: HALF_UP, exact ties, 1e-7 steps") {
    val rnd = new scala.util.Random(7)
    // squared distances t on a 1e-7 grid straddling 6-dp boundaries
    // (every j % 10 == 5 is a …5 HALF_UP case), kept where
    // sqrt(t)² == t, so the kernel's sum lands on t exactly
    val ts = for {
      base <- Seq(0L, 10000000L, 25000000L, 1230000000L)
      j <- 0 until 40
      t = (base + j) / 1e7
      r = math.sqrt(t)
      if r * r == t
    } yield r
    assert(ts.size > 40, s"too few exact boundary distances: ${ts.size}")
    assert(VecMath.round6(0.0000015) == 0.000002 && VecMath.round6(2.5000005) == 2.500001)
    // each distance twice, on both axes: exact ties under distinct ids
    val vecs = ts.flatMap(r => Seq(Seq(r, 0.0), Seq(0.0, -r)))
    val model = ids(vecs.size, rnd).zip(vecs)
    val rows = (0 until 150).map { i =>
      val v = if (i % 3 == 0) Seq(0.0, 0.0)
        else Seq(rnd.nextDouble() * 1e-6, rnd.nextDouble() * 1e-6)
      Row(i.toLong, v)
    }
    underModes(mode => compare(mode, model, rows, DoubleType))
    // the tie case by hand: distances 1.7e-6 and 1.6e-6 both round to
    // 2e-6, so the lower id wins although its raw distance is larger
    val v = Seq((0L, Seq(0.0))).toDF("id", "v").repartition(1)
    val hand = Seq(5L -> Seq(math.sqrt(1.7e-6)), 9L -> Seq(math.sqrt(1.6e-6)))
    assert(v.select(VecMath.vec_nearest_index(col("v"), hand)).head.getLong(0) == 5L)
    assert(v.select(VecMath.vec_nearest_index(col("v"), Seq.empty[(Long, Seq[Double])]))
      .head.isNullAt(0), "an empty model must give null")
  }
}
