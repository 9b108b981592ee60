package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every harness runs the engine under:
  * Bench, Verify, the tests, the dev tools and the streaming demo. A
  * caller adds only what differs (the tests' task retries, an app name)
  * before `getOrCreate()`.
  */
object Session {
  /** Core count of the command-line mains: SPARK_GRAFT_CPUS, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // planner flag for storage-partitioned joins (q85); harness-level
      // so no QueryDef mutates the shared session mid-run
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // custom functions + planner strategy + persisted-view resolution
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
}
