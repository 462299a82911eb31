package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: `Bench`, `Verify`, the dev tools, the test
  * suites and `perfbench` all build their session here, so every entry point
  * runs with [[graft.plans.GraftExtensions]] and the same confs.
  *
  * Settings that matter for oracle parity and local-mode throughput:
  *  - UTC session timezone (naive timestamps are UTC in the reference:
  *    weather_mv/loader_pipeline/util.py:115-120).
  *  - `nanosAsLong`: the driver-generated `events.parquet` carries
  *    TIMESTAMP(NANOS) which Spark cannot represent natively; we read it as
  *    a nanosecond epoch long and derive microsecond timestamps where needed.
  *  - shuffle partitions sized to the local core count, AQE on (coalesces
  *    post-shuffle partitions; at cluster scale it also handles skew joins).
  */
object GraftSession {
  /** Runtime confs: set at build time, and re-set by [[tune]]. */
  private val runtimeConfs: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config(runtimeConfs)
      .config("spark.ui.enabled", "false")

  /** A `local[cores]` session logging at WARN. */
  def local(cores: Int, shufflePartitions: Int): SparkSession = {
    val s = builder(s"local[$cores]", shufflePartitions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    local(cores, math.max(cores, 4))

  /** Apply the graft runtime confs to an externally built session
    * (`SparkEntry.queries` calls this on every query). */
  def tune(spark: SparkSession): SparkSession = {
    runtimeConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }
}
