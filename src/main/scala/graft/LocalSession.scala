package graft

import org.apache.spark.sql.SparkSession

/** The local session the command-line mains run on: `local[cpus]` with
  * as many shuffle partitions, no UI, UTC session time, and parquet
  * TIMESTAMP(NANOS) read as long (events.ts; see Tables.loadEvents). */
object LocalSession {
  def build(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
}
