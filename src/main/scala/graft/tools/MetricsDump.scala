package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import graft.{QueryDef, Registry, Session}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.graftbridge.Bridge

/** Dev tool: run registry queries through `collect()` and print, for
  * every run, one `[run]` line: the Spark jobs started inside
  * `QueryDef.fn` versus in the final action, and the Janino compiles of
  * the run with their time (CodegenMetrics), so a schema-inference job
  * or a codegen-cache miss shows without a UI.
  *
  * With one name it runs the query cold and warm, prints one `[job]`
  * and `[stage]` line per job and stage, and then the warm run's final
  * adaptive plan with PER-NODE RUNTIME METRICS (output rows,
  * codegen/agg/join times, shuffle bytes) — the SQL-tab view for a
  * UI-less sandbox (guide §7.1/§7.2). With several names it runs them
  * in the listed order as a cold pass and 3 warm passes, and closes each
  * pass with a `[pass]` line of its compiles: a workload whose compiled
  * classes overflow Spark's codegen cache recompiles in every warm pass.
  *
  * Usage: MetricsDump <sfDir> <name> [<name>…]
  */
object MetricsDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: MetricsDump <sfDir> <name> [<name>…]")
    val dir = args(0)
    val defs = Registry.named(args.toSeq.drop(1))
    val single = defs.size == 1
    val spark = Session.local()
    val started = new AtomicInteger()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          started.incrementAndGet()
      })
    // wall-clock attribution: one line per JOB (start offset, duration,
    // #tasks) — serial gaps between jobs are driver-side work
    val t0 = System.nanoTime()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
    if (single) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.put(e.jobId, (System.nanoTime(),
            e.stageInfos.map(_.numTasks).sum))
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val (s, nt) = jobs.getOrDefault(e.jobId, (System.nanoTime(), -1))
          println(f"[job] id=${e.jobId}%3d start=${(s - t0) / 1e9}%6.2f " +
            f"dur=${(System.nanoTime() - s) / 1e9}%6.3f tasks=$nt%4d")
        }
        private val taskTimes = new java.util.concurrent.ConcurrentHashMap[
          Int, Vector[Long]]()
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          taskTimes.merge(e.stageId,
            Vector(e.taskInfo.duration), (a, b) => a ++ b)
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          val i = e.stageInfo
          val ts = taskTimes.getOrDefault(i.stageId, Vector.empty).sorted
          val med = if (ts.isEmpty) 0L else ts(ts.length / 2)
          println(f"[stage] id=${i.stageId}%3d name=${i.name.take(40)}%-40s " +
            f"tasks=${i.numTasks}%4d wall=${
              i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
            }%6d ms taskMed=$med%5d taskMax=${ts.lastOption.getOrElse(0L)}%6d " +
            f"taskSum=${ts.sum}%7d")
        }
      })
    def jobsSoFar: Int = { Bridge.drainListenerBus(spark); started.get }
    def compiles: (Long, Double) =
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e6)
    // collect() (not a write) so THIS queryExecution is the executed
    // one and its metric accumulators fill; output sizes here are tiny
    def run(d: QueryDef, label: String): DataFrame = {
      val (c0, ms0) = compiles
      val j0 = jobsSoFar
      val df = d.fn(spark, dir)
      val j1 = jobsSoFar
      df.collect()
      val j2 = jobsSoFar
      val (c1, ms1) = compiles
      println(f"[run] $label ${d.name} fn_jobs=${j1 - j0} action_jobs=${j2 - j1} " +
        f"compiles=${c1 - c0} compile_ms=${ms1 - ms0}%.1f")
      df
    }
    def walk(p: SparkPlan, depth: Int): Unit = {
      val ms = p.metrics.map { case (k, m) =>
        s"$k=${m.value}"
      }.mkString(", ")
      println(("  " * depth) + p.nodeName + "  [" + ms + "]")
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      kids.foreach(walk(_, depth + 1))
      p.subqueries.foreach { sq =>
        println(("  " * (depth + 1)) + "SUBQUERY:")
        walk(sq, depth + 2)
      }
    }
    if (single) {
      // warm-up run (JIT, codegen cache, listing) — the bench discards
      // run 1 too; metrics below come from the WARM run
      run(defs.head, "cold")
      println(s"[job] ===== warm run starts =====")
      val df = run(defs.head, "warm")
      println(f"[job] TOTAL ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      walk(df.queryExecution.executedPlan, 0)
    } else {
      for (pass <- "cold" +: (1 to 3).map(i => s"warm$i")) {
        val (c0, ms0) = compiles
        defs.foreach(run(_, pass))
        val (c1, ms1) = compiles
        println(f"[pass] $pass compiles=${c1 - c0} compile_ms=${ms1 - ms0}%.1f")
      }
    }
    spark.stop()
  }
}
