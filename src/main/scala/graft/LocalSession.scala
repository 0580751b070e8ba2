package graft

import org.apache.spark.sql.SparkSession

/** The session every graft main runs in: `local[cpus]` with one shuffle
  * partition per core, a UTC session clock (the TIMESTAMP_NTZ reads assume
  * it, see [[Tables.requireUtcSession]]), parquet TIMESTAMP(NANOS) read as
  * longs (see [[Tables.events]]) and no UI. */
object LocalSession {
  def apply(cpus: Int): SparkSession = SparkSession.builder()
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** This machine's core count: the dev harnesses' default session width. */
  def cores: Int = Runtime.getRuntime.availableProcessors

  /** The 1-minute load average, stamped next to timings so a loaded-box
    * reading identifies itself; -1.0 (after `failed` reports why) where
    * /proc/loadavg cannot be read. */
  def loadavg(failed: (String, Throwable) => Unit): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch {
      case scala.util.control.NonFatal(e) => failed("read of /proc/loadavg", e); -1.0
    }
}
