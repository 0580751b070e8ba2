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
}
