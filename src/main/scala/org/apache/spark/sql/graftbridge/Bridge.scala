package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into the private[sql] Column ⇄ Expression API —
  * the supported pattern for third-party Catalyst expressions (the
  * same access path SparkSessionExtensions-registered functions use
  * internally). Lives under org.apache.spark.sql so private[sql]
  * members resolve; the only other internals touched are the state
  * store's unload and the driver's listener bus.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a 1-arg expression builder as a SQL temp function. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Block until every event posted so far has reached every
    * SparkListener, so a listener's job count is exact when read. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Stop every active streaming query, then unload all loaded
    * state-store providers and their maintenance thread. Benchmarks call
    * this between timed runs so one streaming query's retained providers
    * (and the GC pressure of their state) don't tax whatever runs next
    * in the same JVM. Providers re-load lazily on the next streaming
    * query, so this is safe mid-session.
    */
  def resetStreamingState(spark: SparkSession): Unit = {
    spark.streams.active.foreach(_.stop())
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }
}
