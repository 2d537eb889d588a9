package graft

import org.apache.spark.sql.SparkSession

/** The engine's Spark session settings, stated once for every entry
  * point (Bench, Verify, the tools, the test suite). Callers add their
  * own extras (app name, warehouse dir, A/B confs) and `getOrCreate()`.
  */
object GraftSession {
  def builder(cores: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      // static broadcast planning OFF, AQE runtime broadcast ON: size
      // ESTIMATES lie after explode/distinct (a candidate-pair table
      // once estimated under 10 MB at 27M rows and was statically
      // broadcast — AQE never demotes a static broadcast); exact
      // runtime sizes decide instead. See SCALING.md "Join strategy".
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "10485760")
      // events.ts is parquet TIMESTAMP(NANOS) — Spark reads it as long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
