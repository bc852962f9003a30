package graft
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // dev-only: extra args select a subset of queries to dump (an
    // unregistered name fails the run before the session starts)
    val only: Option[Seq[QueryDef]] =
      if (args.length > 2) Some(Registry.named(args.drop(2).toSeq)) else None
    val queries = only.fold(SparkEntry.queries.toSeq)(_.map(d => d.name -> d.fn))
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    var dumped = 0
    val failed = scala.collection.mutable.ListBuffer[String]()
    queries.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        dumped += 1
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Key-count guard (r07 lesson): an erroring query leaves NO row in
    // the correctness artifact, so a shrunken key set must fail LOUDLY
    // here instead of silently thinning the artifact — in r07 a
    // testdata dtype drift made 11 queries vanish unnoticed. Full runs
    // must dump every registered query; the guard prints a machine-
    // grepable line and exits non-zero on any miss.
    if (only.isEmpty) {
      // Transcendental-boundary guard (r12 ADVICE; centralized in
      // QuantGuard r14): ln/exp/log2 are not IEEE-correctly-rounded,
      // so a 1-ulp JVM-vs-DuckDB libm divergence can flip a
      // floor/round quantizer when the pre-quantization value sits
      // within ~1e-8 of its boundary. Measure the actual margins on
      // THIS corpus and print a greppable RISK line if any gets close
      // — turning a would-be mystery hash mismatch into an instant
      // diagnosis. Advisory (the correctness compare is the
      // enforcement); never fails the sweep. Completeness is enforced
      // separately by QuantGuardCompletenessSpec.
      try {
        QuantGuard.margins(spark, sfDir).foreach { case (name, m) =>
          val verdict = if (m < 1e-7) "RISK" else "ok"
          println(f"[quant-guard] $name margin=$m%.3e threshold=1.0e-07 $verdict")
        }
      } catch { case e: Throwable =>
        System.err.println(s"[quant-guard] failed: ${e.getMessage}")
      }
      val expected = SparkEntry.queries.size
      println(s"[verify] dumped $dumped/$expected queries" +
        (if (failed.nonEmpty) s"; FAILED: ${failed.mkString(",")}" else ""))
      if (dumped != expected) {
        System.err.println(s"[verify] KEY-COUNT GUARD: only $dumped of " +
          s"$expected registered queries produced output — the " +
          s"correctness artifact would silently shrink. Failing loudly.")
        spark.stop()
        sys.exit(2)
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsString(SparkEntry.oracleSql))
    spark.stop()
  }
}
