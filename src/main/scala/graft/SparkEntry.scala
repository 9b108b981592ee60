package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.api.Registry

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Word count over `documents` — the reference's entire semantic surface
    * (scan→flatMap→shuffle→agg→sort) in one declarative plan (SURVEY.md §7.1).
    */
  def entry(spark: SparkSession): DataFrame =
    Registry.byName("wc_wordcount").run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Headline queries timed by Bench at sf0.1 (legacy-12 anchor group). */
  def benchQueries: Seq[String] = Registry.all.filter(_.bench).map(_.name)

  /** Extended bench group (`benchExt = true`): the surface newer than
    * the legacy group, reported as its own total. Storage-layout queries
    * are not here: Bench times their build and read apart
    * ([[graft.queries.StorageLayout.benchPairs]]).
    */
  def benchQueriesExtended: Seq[String] =
    Registry.all.filter(_.benchExt).map(_.name)
}
