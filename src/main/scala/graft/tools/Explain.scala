package graft.tools

import graft.{Registry, Session}

/** Dev tool: dump formatted plans for selected queries to inspect
  * pushdown (PushedFilters/ReadSchema), join strategies, and
  * WholeStageCodegen spans. The plans are the static ones; for the
  * final adaptive plan with per-node metrics, run [[MetricsDump]].
  *
  * Usage: Explain <query...> (tables from SPARK_GRAFT_SF_DIR, by
  * default the sf0.001 test tables) */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Session.local()
    for (n <- args; d <- Registry.all.find(_.name == n)) {
      println(s"========== $n ==========")
      d.fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
