package graft.tools

import graft.SparkSpec
import org.apache.spark.sql.execution.FormattedMode

/** `Explain.plan` masks what differs between two builds of one plan
  * (expression ids, hash codes, scratch paths, RDD ids, lambda names,
  * source lines), so a plan diff between two versions shows only real
  * plan changes. */
class ExplainSpec extends SparkSpec {

  test("two builds of q133 give one masked plan, though their raw plans differ") {
    val name = "q133_dedup_clusters"
    def raw() = graft.Registry.named(Seq(name)).head.fn(spark, sf)
      .queryExecution.explainString(FormattedMode)
    val (r1, r2) = (raw(), raw())
    assert(r1 != r2, "raw plans are identical: the masking is not exercised")
    val (p1, p2) = (Explain.plan(spark, sf, name), Explain.plan(spark, sf, name))
    assert(p1 == p2, s"masked plans differ:\n$p1\n----\n$p2")
    assert(p1.contains("#N") && !p1.matches("(?s).*#\\d.*"),
      "expression ids are not masked")
  }
}
