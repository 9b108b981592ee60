package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (see /root/repo/FIXTURES.md).
  *
  * Columnar parquet scans replace the reference's whole-file text source
  * (/root/reference/mr/coordinator.go:86-97); Catalyst pushes filters and
  * prunes columns at the scan, which the reference could not do at all.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = if (name == "events") {
      // events.ts has been generated as parquet TIMESTAMP(NANOS), which
      // vanilla Spark refuses (PARQUET_TYPE_ILLEGAL). Read nanos as long,
      // then truncate to the engine's native microsecond timestamps — the
      // same truncation DuckDB applies when it casts ns parquet to its µs
      // TIMESTAMP.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val r = spark.read.parquet(s"$dir/$name.parquet")
      // `div` = integer division: ts nanos exceed 2^53, so the `/` operator
      // (double arithmetic) rounds by up to 128 ns and lands 1 µs off
      // DuckDB's ns//1000 truncation for ~1.6% of values.
      if (r.schema("ts").dataType == LongType)
        r.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else r
    } else spark.read.parquet(s"$dir/$name.parquet")
    // Timestamps generated WITHOUT isAdjustedToUTC read as TIMESTAMP_NTZ
    // under Spark's NTZ inference; the engine's contract (and DuckDB's
    // naive-µs oracle arithmetic, with every session pinned to UTC) is
    // the classic TIMESTAMP. Normalize at the source boundary so the µs
    // values are byte-identical either way and strict-LTZ functions
    // (unix_micros, watermarks-with-timers) keep working.
    raw.schema.fields.foldLeft(raw) { (df, f) =>
      if (f.dataType == TimestampNTZType)
        df.withColumn(f.name, col(f.name).cast(TimestampType))
      else df
    }
  }

  // (session UUID, view name) -> dir it was registered for. Guards
  // repeat registration: SQL-surface queries (q26/q35) call register on
  // every invocation, and re-creating the view re-reads parquet footers
  // (~0.1-0.3 s per call at bench cadence). Keyed by the session's UUID
  // string (not the session object — the map must not pin stopped
  // sessions in memory); re-registers when dir changes or when the view
  // was dropped/replaced behind our back (tableExists check).
  private val registered =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** Register tables as temp views so `spark.sql` mirrors the oracle.
    * Pass the subset a query touches to skip 7+ unneeded footer reads.
    * Idempotent per (session, dir): repeat calls are no-ops while the
    * view still exists.
    */
  def register(spark: SparkSession, dir: String, only: String*): Unit =
    (if (only.isEmpty) names else only).foreach { n =>
      val key = (org.apache.spark.sql.graftshim.Bridge.sessionId(spark), n)
      if (registered.get(key) != dir || !spark.catalog.tableExists(n)) {
        t(spark, dir, n).createOrReplaceTempView(n)
        registered.put(key, dir)
      }
    }
}
