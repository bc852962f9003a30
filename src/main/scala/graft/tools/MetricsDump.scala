package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import graft.{Registry, Session}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.graftbridge.Bridge

/** Dev tool (r18): run ONE registry query through the noop sink and
  * print the final adaptive plan with PER-NODE RUNTIME METRICS
  * (output rows, codegen/agg/join times, shuffle bytes) — the SQL-tab
  * view for a UI-less sandbox (guide §7.1/§7.2). For the cold and the
  * warm run it also prints one `[run]` line: the Spark jobs started
  * inside `QueryDef.fn` versus in the final action, and the Janino
  * compiles of the run with their time (CodegenMetrics), so a
  * schema-inference job or a codegen-cache miss shows without a UI.
  *
  * Usage: MetricsDump <sfDir> <queryName>
  */
object MetricsDump {
  def main(args: Array[String]): Unit = {
    val Array(dir, name) = args.take(2)
    val d = Registry.named(Seq(name)).head
    val spark = Session.local()
    // wall-clock attribution: one line per JOB (start offset, duration,
    // #tasks) — serial gaps between jobs are driver-side work
    val t0 = System.nanoTime()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
    val started = new AtomicInteger()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          started.incrementAndGet()
          jobs.put(e.jobId, (System.nanoTime(),
            e.stageInfos.map(_.numTasks).sum))
        }
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
    def run(label: String): DataFrame = {
      val (c0, ms0) = compiles
      val j0 = jobsSoFar
      val df = d.fn(spark, dir)
      val j1 = jobsSoFar
      df.collect()
      val j2 = jobsSoFar
      val (c1, ms1) = compiles
      println(f"[run] $label fn_jobs=${j1 - j0} action_jobs=${j2 - j1} " +
        f"compiles=${c1 - c0} compile_ms=${ms1 - ms0}%.1f")
      df
    }
    // warm-up run (JIT, codegen cache, listing) — the bench discards
    // run 1 too; metrics below come from the WARM run
    run("cold")
    println(s"[job] ===== warm run starts =====")
    val df = run("warm")
    println(f"[job] TOTAL ${(System.nanoTime() - t0) / 1e9}%6.2f s")
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
    walk(df.queryExecution.executedPlan, 0)
    spark.stop()
  }
}
