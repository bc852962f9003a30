package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** One benchmark run of a workload, in one JVM.
  *
  * Usage: Harness <dataDir> <outDir> <seed> <seconds> <trace 0|1> <query…>
  *
  * The session is set up as `graft.Bench` sets it up (local[N] with N =
  * available processors, N shuffle partitions, AQE on, UI off) and every
  * query is evaluated as `graft.Bench` evaluates it: `QueryDef.fn` into the
  * `noop` sink, streaming state reset and a GC after each query, outside
  * its timing. The run is:
  *
  *   1. setup: SparkSession start plus one cold pass over the queries;
  *   2. host calibration (a fixed range sum plus a small shuffle);
  *   3. warm-up: `WarmupPasses` passes. Per-pass times keep falling for
  *      several passes after the cold one while the JIT compiles; a fixed
  *      number of passes starts the window at the same point of that curve
  *      on a fast and on a slow host;
  *   4. the timed window: whole passes for `seconds`, at least
  *      `MinWindowPasses`. With trace on, window passes alternate
  *      untraced/traced and the listeners are attached for traced ones;
  *   5. the check pass, outside every timed figure: one more pass that
  *      writes each query's result the way `graft.Verify` does, plus the
  *      queries' oracle SQL, for `tools/check.py`. (`graft.Verify.main`
  *      itself stops the session.) It runs after the others in its own
  *      seed-derived order, so its results carry whatever state the
  *      earlier passes left behind.
  *
  * Retained heap is read after full GCs at the end of the warm-up, when
  * every query has run the same number of times in every run.
  *
  * Each pass after the cold one runs the queries in its own seed-derived
  * order. Everything is written to `<outDir>/run.json`; `run.py` turns it
  * into metrics.
  */
object Harness {

  val WarmupPasses = 2
  val MinWindowPasses = 3

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution. */
  private def clockMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => -1L
  }

  /** JIT compilation and collector time so far, in milliseconds: whether a
    * pass still ran on the JIT's warm-up curve. */
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** graft.Bench's run context: 1-minute loadavg and the number of other
    * live JVMs on the host. */
  private def runContext: Map[String, Any] = {
    val self = ProcessHandle.current().pid()
    val others = new java.io.File("/proc").listFiles()
      .filter(f => f.isDirectory && f.getName.forall(_.isDigit) &&
        f.getName.toLong != self)
      .count { f =>
        try new String(Files.readAllBytes(new java.io.File(f, "cmdline").toPath),
          "UTF-8").contains("java")
        catch { case _: Throwable => false }
      }
    Map("loadavg" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
      "other_jvms" -> others)
  }

  private def calibrate(spark: SparkSession): Double = {
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, 8).selectExpr("sum(id)").collect()
      spark.range(0L, 200000L, 1L, 8).selectExpr("id % 1000 AS k")
        .groupBy("k").count().collect()
      (System.nanoTime() - t0) / 1e9
    }
    times.sorted.apply(1)
  }

  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir, seedS, secondsS, traceS) = args.take(5)
    val names = args.drop(5).toSeq
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val ctxStart = runContext

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyMs = clockMs

    val byName = graft.Registry.all.map(d => d.name -> d).toMap
    val missing = names.filterNot(byName.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val trace = new Trace(spark)

    val execs = ArrayBuffer[Map[String, Any]]()
    val passes = ArrayBuffer[Map[String, Any]]()

    def storageRetainedMb: Double =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum /
        1048576.0

    val oracleDir = s"$outDir/oracle"

    def runPass(pass: Int, phase: String, tracedPass: Boolean): Unit = {
      // The cold pass runs in the listed order: the first queries of a JVM
      // shape the JIT profile, and a seed-dependent start moved later
      // passes by up to 35 %. The seed orders every later pass.
      val order =
        if (pass == 0) names
        else new scala.util.Random(
          scala.util.hashing.MurmurHash3.productHash((seed, pass))).shuffle(names)
      if (tracedPass) trace.attach()
      val (jit0, gc0) = (jitMs, gcMs)
      val p0 = clockMs
      order.foreach { name =>
        val cpu0 = cpuNs
        val t0 = clockMs
        var t1 = t0
        val error = try {
          val df = byName(name).fn(spark, dataDir)
          t1 = clockMs
          if (phase == "check")
            df.coalesce(1).write.mode("overwrite").parquet(s"$oracleDir/$name")
          else df.write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable =>
          System.err.println(s"[graftbench] $name: $e")
          Some(e.toString)
        }
        val t2 = clockMs
        val cpuS = (cpuNs - cpu0) / 1e9
        execs += Map("cpu_s" -> cpuS, "pass" -> pass, "query" -> name, "start_ms" -> t0,
          "build_end_ms" -> t1, "end_ms" -> t2, "error" -> error.orNull,
          "traced" -> tracedPass)
        Bridge.resetStreamingState(spark)
        System.gc()
      }
      val p1 = clockMs
      if (tracedPass) {
        trace.drain()
        trace.detach()
      }
      passes += Map("pass" -> pass, "phase" -> phase, "order" -> order, "start_ms" -> p0,
        "end_ms" -> p1, "traced" -> tracedPass, "jit_ms" -> (jitMs - jit0),
        "gc_ms" -> (gcMs - gc0),
        "storage_retained_mb" -> storageRetainedMb)
    }

    runPass(0, "cold", tracedPass = false)
    val setupEndMs = clockMs
    val calibS = calibrate(spark)

    // Whole passes only: every query gets the same number of samples.
    var pass = 1
    while (pass <= WarmupPasses) {
      runPass(pass, "warmup", tracedPass = false)
      pass += 1
    }
    // Spark's ContextCleaner drops the blocks of collected RDDs on its own
    // thread after a GC: give it time before the next GC and the reading.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    val heapRetainedMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val windowStart = clockMs
    var inWindow = 0
    // At least MinWindowPasses: with two, one slow pass moves the median.
    while (clockMs - windowStart < seconds * 1000 || inWindow < MinWindowPasses) {
      runPass(pass, "window", tracedPass = traced && inWindow % 2 == 1)
      pass += 1
      inWindow += 1
    }
    runPass(pass, "check", tracedPass = false)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(s"$oracleDir/oracle_sql.json"), json.writeValueAsString(
      graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))
    val ctxEnd = runContext

    val run = Map(
      "seed" -> seed, "queries" -> names, "nproc" -> cpus,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "run_context" -> Map("start" -> ctxStart, "end" -> ctxEnd),
      "jvm_start_ms" -> jvmStartMs, "session_ready_ms" -> sessionReadyMs,
      "setup_end_ms" -> setupEndMs, "calib_s" -> calibS,
      "heap_retained_mb" -> heapRetainedMb,
      "passes" -> passes.toSeq, "execs" -> execs.toSeq,
      "events" -> trace.events)
    Files.writeString(Paths.get(s"$outDir/run.json"), json.writeValueAsString(run))
    spark.stop()
  }
}
