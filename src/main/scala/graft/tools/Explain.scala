package graft.tools

import java.util.regex.Pattern

import graft.{Registry, Session}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: dump formatted plans for selected queries to inspect
  * pushdown (PushedFilters/ReadSchema), join strategies, and
  * WholeStageCodegen spans. The plans are the static ones; for the
  * final adaptive plan with per-node metrics, run [[MetricsDump]].
  * Each plan is masked ([[plan]]), so two builds' dumps diff cleanly.
  *
  * Usage: Explain <query...> (tables from SPARK_GRAFT_SF_DIR, by
  * default the sf0.001 test tables) */
object Explain {

  /** What changes between two builds of one plan, with its mask:
    * expression ids, object hash codes, the random suffix of temp and
    * scratch directories, RDD and plan ids, lambda class names, and
    * source line numbers (a `localCheckpoint` scan names its call
    * site). */
  private lazy val masks: Seq[(Pattern, String)] = {
    val tmp = Pattern.quote(
      new java.io.File(System.getProperty("java.io.tmpdir")).getPath)
    Seq(
      s"(?:file:)?$tmp/([^/\\s,\\]]*?)\\d+(?=[/\\s,\\]]|$$)" -> "<tmp>/$1<N>",
      """#\d+""" -> "#N",
      """\$+Lambda[\w$/.]*""" -> "\\$Lambda",
      """(?<=\w)@[0-9a-f]+\b""" -> "@H",
      """RDD\[\d+\]""" -> "RDD[N]",
      """plan_id=\d+""" -> "plan_id=N",
      """(\.scala):\d+""" -> "$1:N"
    ).map { case (re, to) => Pattern.compile(re, Pattern.MULTILINE) -> to }
  }

  /** Query `name`'s formatted plan on the tables in `dir`, masked. */
  def plan(spark: SparkSession, dir: String, name: String): String = {
    val df = Registry.named(Seq(name)).head.fn(spark, dir)
    masks.foldLeft(df.queryExecution.explainString(FormattedMode)) {
      case (text, (re, to)) => re.matcher(text).replaceAll(to)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    Registry.named(args.toSeq) // a typo fails before the session starts
    val spark = Session.local()
    for (n <- args) {
      println(s"========== $n ==========")
      println(plan(spark, sfDir, n))
    }
    spark.stop()
  }
}
