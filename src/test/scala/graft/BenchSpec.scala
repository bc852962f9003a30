package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench list and the registry cannot drift apart silently: every
  * headline name is registered, and Bench refuses unknown names
  * instead of dropping them from the run (and the suite total). */
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
}
