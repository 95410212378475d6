package graft

import org.apache.spark.sql.SparkSession

/** The session every main starts from: `local[cpus]` with as many
  * shuffle partitions, UTC session time, parquet nanosecond timestamps
  * read as longs (the loaders normalize them), and no UI. Callers add
  * their own settings before `getOrCreate()`. */
object LocalSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
