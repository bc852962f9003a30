package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one JVM-wide SparkSession for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    // a fixed 4 cores, not the host's count: plan-shape and partition
    // assertions must not depend on the machine running the suite
    val s = Session.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"

  /** `body`'s result and the number of Spark jobs started while it ran. */
  def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.Bridge
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      Bridge.drainListenerBus(spark)
      (r, started.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
