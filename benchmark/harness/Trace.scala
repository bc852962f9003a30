package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listeners for the traced passes. They record raw events only (times in
  * epoch milliseconds); `run.py` builds the spans and per-layer metrics
  * from them. Nothing in the program under test is instrumented. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val buf = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stageTasks = new ConcurrentHashMap[(Int, Int), StageTasks]()
  private val executionSite = new ConcurrentHashMap[Long, String]()

  /** Task metrics of one stage attempt, summed as its tasks end. */
  private final class StageTasks {
    val durations = scala.collection.mutable.ArrayBuffer[Double]()
    var runS, cpuS, gcS, inRows, inMb, shufWriteMb, shufReadMb, fetchWaitS,
        spillMb, outMb, outRecords = 0.0
    var scanTasks = 0
  }

  def events: Seq[Map[String, Any]] = buf.asScala.toSeq

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        executionSite.put(s.executionId, Trace.site(s.details))
      case _ =>
    }

    /** A job's site is the first graft frame of its result stage's call
      * site. Jobs that AQE submits from its own thread pool carry no graft
      * frame; they take the site of the SQL execution they belong to. */
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val own = Trace.site(e.stageInfos.maxBy(_.stageId).details)
      val execution = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(executionSite.get(id.toLong)))
      val site = if (own == Trace.NoSite) execution.getOrElse(own) else own
      buf.add(Map("ev" -> "job_start", "job" -> e.jobId, "t" -> e.time.toDouble,
        "stages" -> e.stageIds, "site" -> site))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      buf.add(Map("ev" -> "job_end", "job" -> e.jobId, "t" -> e.time.toDouble,
        "ok" -> (e.jobResult == JobSucceeded)))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val acc = stageTasks.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => new StageTasks)
      val m = e.taskMetrics
      acc.synchronized {
        acc.durations += e.taskInfo.duration.toDouble / 1000
        if (m != null) {
          val mb = 1048576.0
          acc.runS += m.executorRunTime / 1000.0
          acc.cpuS += m.executorCpuTime / 1e9
          acc.gcS += m.jvmGCTime / 1000.0
          acc.inRows += m.inputMetrics.recordsRead
          acc.inMb += m.inputMetrics.bytesRead / mb
          if (m.inputMetrics.bytesRead > 0 || m.inputMetrics.recordsRead > 0)
            acc.scanTasks += 1
          acc.shufWriteMb += m.shuffleWriteMetrics.bytesWritten / mb
          acc.shufReadMb += m.shuffleReadMetrics.totalBytesRead / mb
          acc.fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1000.0
          acc.spillMb += m.diskBytesSpilled / mb
          acc.outMb += m.outputMetrics.bytesWritten / mb
          acc.outRecords += m.outputMetrics.recordsWritten
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val acc = Option(stageTasks.remove((i.stageId, i.attemptNumber())))
        .getOrElse(new StageTasks)
      acc.synchronized {
        buf.add(Map("ev" -> "stage", "stage" -> i.stageId,
          "attempt" -> i.attemptNumber(), "tasks" -> i.numTasks,
          "start" -> i.submissionTime.map(_.toDouble),
          "end" -> i.completionTime.map(_.toDouble),
          "failed" -> i.failureReason.isDefined,
          "task_durations" -> acc.durations.toSeq, "run_s" -> acc.runS,
          "cpu_s" -> acc.cpuS, "gc_s" -> acc.gcS, "scan_rows" -> acc.inRows,
          "scan_mb" -> acc.inMb, "scan_tasks" -> acc.scanTasks,
          "shuffle_write_mb" -> acc.shufWriteMb,
          "shuffle_read_mb" -> acc.shufReadMb,
          "fetch_wait_s" -> acc.fetchWaitS, "spill_mb" -> acc.spillMb,
          "write_mb" -> acc.outMb, "write_records" -> acc.outRecords))
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        buf.add(Map("ev" -> "block", "t" -> System.currentTimeMillis().toDouble,
          "mb" -> (b.memSize + b.diskSize) / 1048576.0))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        buf.add(Map("ev" -> "phase", "phase" -> phase,
          "start" -> s.startTimeMs.toDouble, "end" -> s.endTimeMs.toDouble))
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toLong / 1000.0 }
      val ops = p.stateOperators.toSeq
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      buf.add(Map("ev" -> "batch", "batch" -> p.batchId, "start" -> start,
        "end" -> (start + d.getOrElse("triggerExecution", 0.0) * 1000),
        "input_rows" -> p.numInputRows,
        "trigger_s" -> d.getOrElse("triggerExecution", 0.0),
        "plan_s" -> d.getOrElse("queryPlanning", 0.0),
        "addbatch_s" -> d.getOrElse("addBatch", 0.0),
        "commit_s" -> (d.getOrElse("commitOffsets", 0.0) +
          d.getOrElse("walCommit", 0.0)),
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_mb" -> ops.map(_.memoryUsedBytes).sum / 1048576.0,
        "state_commit_s" -> ops.map(_.commitTimeMs).sum / 1000.0))
    }
  }

  /** Delivers every event posted so far to the listeners. */
  def drain(): Unit = ListenerBus.drain(sc)

  def attach(): Unit = {
    drain()
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Trace {
  val NoSite = "spark"
  private val GraftFrame = """^graft\.[\w.$]*\(([A-Za-z0-9_]+)\.scala:\d+\)""".r

  /** The graft source file of the first graft frame in a call site's
    * stack; "harness" when only benchmark frames are on it (the final
    * `noop` write), `NoSite` when neither is (e.g. a micro-batch thread). */
  def site(details: String): String = {
    val frames = details.split("\n").iterator.map(_.trim)
    frames.collectFirst { case GraftFrame(file) => file }.getOrElse(
      if (details.contains("graftbench.")) "harness" else NoSite)
  }
}
