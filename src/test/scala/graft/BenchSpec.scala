package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench list and the registry cannot drift apart silently: every
  * headline name is registered, and every main that takes query names
  * (Bench, Verify, Explain, MetricsDump) looks them up through
  * `Registry.named`, which refuses unknown names instead of dropping
  * them from the run. */
class BenchSpec extends AnyFunSuite {

  test("Bench.headline is 117 distinct registered query names") {
    val registered = Registry.all.map(_.name).toSet
    val h = Bench.headline
    assert(h.size == 117, s"headline has ${h.size} names")
    assert(h.distinct.size == h.size,
      s"duplicate headline names: ${h.diff(h.distinct).mkString(", ")}")
    val unknown = h.filterNot(registered)
    assert(unknown.isEmpty, s"unregistered headline names: ${unknown.mkString(", ")}")
  }

  test("Bench fails fast on names the registry lacks, listing them") {
    val e = intercept[IllegalArgumentException] {
      Bench.main(Array("q01_pricing_summary", "q01_pricing_sumary", "q999_nope"))
    }
    assert(e.getMessage.contains("q01_pricing_sumary, q999_nope"), e.getMessage)
    assert(!e.getMessage.contains("q01_pricing_summary,"), e.getMessage)
  }

  test("Registry.named keeps the given order and refuses unknown names, listing them") {
    val names = Seq("q13_count_distinct", "q01_pricing_summary", "q120_hll_distinct")
    assert(Registry.named(names).map(_.name) == names)
    val e = intercept[IllegalArgumentException] {
      Registry.named(Seq("q01_pricing_summary", "q01_pricing_sumary", "q999_nope"))
    }
    assert(e.getMessage.contains("q01_pricing_sumary, q999_nope"), e.getMessage)
    assert(!e.getMessage.contains("q01_pricing_summary,"), e.getMessage)
  }

  test("Verify, Explain and MetricsDump refuse an unregistered name before starting") {
    val dir = java.nio.file.Files.createTempDirectory("graft-benchspec").toString
    for (run <- Seq[() => Unit](
        () => Verify.main(Array("unread-sf-dir", dir, "q01_pricing_sumary")),
        () => tools.Explain.main(Array("q01_pricing_sumary")),
        () => tools.MetricsDump.main(Array("unread-sf-dir", "q01_pricing_sumary")))) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("q01_pricing_sumary"), e.getMessage)
    }
    assert(new java.io.File(dir).list().isEmpty, "Verify wrote output for no query")
  }
}
