package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query: a Spark implementation plus, when SQL-expressible, a
  * DuckDB oracle over the same parquet tables (registered as views named
  * `lineitem`, `orders`, ... by the driver).
  *
  * Conventions that keep the driver's hash-compare stable:
  *   - every query ends in a total-order `orderBy` and the oracle carries
  *     the same `ORDER BY`;
  *   - computed columns are aliased identically on both sides;
  *   - floating aggregates are rounded on both sides.
  *
  * `bench = true` marks the legacy bench group timed by [[graft.Bench]]
  * (the headline total, kept fixed so totals stay comparable across
  * artifacts); `benchExt = true` marks the extended bench group, the
  * newer surface reported as a separate total.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false,
    benchExt: Boolean = false)
