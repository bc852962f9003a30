package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every main and the test suites run on. */
object Session {

  /** SPARK_GRAFT_CPUS, or else the number of available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `local[cpus]` with `cpus` shuffle partitions, AQE on, UTC session
    * time zone, UI off, WARN logging. */
  def local(cpus: Int = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
