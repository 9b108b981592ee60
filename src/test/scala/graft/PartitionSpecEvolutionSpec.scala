package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ManifestTable

/** Partition-spec EVOLUTION: re-declaring a table's partitioning
  * (set_partition_spec) rewrites nothing — old files keep their
  * recorded `#part:` layout, new inserts take the new spec. Mixed
  * scans read correctly with the layout report degraded to unknown;
  * a scan pruned to one spec's files regains the key-grouped report
  * (and its zero-shuffle aggregation) for exactly what it reads.
  */
class PartitionSpecEvolutionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Fmt = "graft.sources.ManifestTable"
  private def tmp(): String =
    Files.createTempDirectory("graft_specevo").toString

  private def read(dir: String): DataFrame =
    spark.read.format(Fmt).option("path", dir).load()

  test("mixed layouts read correctly; pruned-to-one-spec scans regain " +
      "the zero-shuffle grouped aggregate") {
    val dir = tmp()
    // old spec: partitioned by g, ids 0..99
    (0 until 100).map(i => (i.toLong, i % 4, i % 2)).toDF("id", "g", "h")
      .write.format(Fmt).option("path", dir)
      .option("partitionColumn", "g").mode(SaveMode.Append).save()
    // evolved spec: later appends partitioned by h, ids 100..199
    (100 until 200).map(i => (i.toLong, i % 4, i % 2)).toDF("id", "g", "h")
      .write.format(Fmt).option("path", dir)
      .option("partitionColumn", "h").mode(SaveMode.Append).save()
    val m = ManifestTable.readManifest(dir).get
    // whole-table layout derivation degrades on the mix
    assert(ManifestTable.partitionColumnsOf(m).isEmpty)
    // mixed scan: plain correctness
    assert(read(dir).count() == 200)
    assert(read(dir).groupBy("g").count().collect()
      .map(_.getLong(1)).toSeq == Seq.fill(4)(50L))
    // pruned to the OLD spec's files (disjoint id ranges: zone maps cut
    // the new files), the grouped aggregate regains key-grouping —
    // zero exchanges in the executed plan
    val agg = read(dir).filter(col("id") < 100)
      .groupBy("g").agg(count(lit(1)).as("n"), sum("id").as("sid"))
    val rows = agg.collect()
    assert(rows.map(_.getLong(1)).sum == 100)
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
      s"a one-spec scan must keep the key-grouped report:\n" +
        agg.queryExecution.executedPlan)
    // value-pruning still works on the retired spec's column: g = 1
    // prunes exactly the 3 other old #part:g files; new-spec files
    // (no #part:g key) are conservatively kept
    val nOld = 4
    val total = m.files.size
    val scans = read(dir).filter(col("g") === 1)
    assert(scans.count() == 50)
    val desc = scans.queryExecution.executedPlan.toString
    assert(desc.contains(s"files=${total - (nOld - 1)}/$total"),
      s"mixed-spec value pruning must drop the other old files: $desc")
  }

  test("set_partition_spec changes only the write-side spec") {
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.gse", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gse.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gse.db")
    spark.sql("CREATE TABLE gse.db.ev (id BIGINT, g INT, h INT) " +
      "PARTITIONED BY (g)")
    (0 until 60).map(i => (i.toLong, i % 3, i % 5)).toDF("id", "g", "h")
      .createOrReplaceTempView("ev_src")
    spark.sql("INSERT INTO gse.db.ev SELECT * FROM ev_src")
    val dir = s"$wh/db/ev"
    def partKeysOf(name: String): Set[String] =
      ManifestTable.readManifest(dir).get.files
        .filter(_.name == name).head.stats.parts.keySet
    val oldFiles = ManifestTable.readManifest(dir).get.files.map(_.name)
    assert(oldFiles.forall(f => partKeysOf(f) == Set("g")))
    // evolve the spec to h
    val out = spark.sql(
      "CALL gse.system.set_partition_spec(table => 'db.ev', " +
        "columns => 'h')").head()
    assert(out.getString(0) == "h")
    spark.sql("INSERT INTO gse.db.ev SELECT id + 100, g, h FROM ev_src")
    val m = ManifestTable.readManifest(dir).get
    val newFiles = m.files.map(_.name).filterNot(oldFiles.contains)
    assert(newFiles.nonEmpty)
    assert(newFiles.forall(f => partKeysOf(f) == Set("h")),
      "post-evolution inserts must take the new spec")
    assert(oldFiles.forall(f => partKeysOf(f) == Set("g")),
      "existing files keep their recorded layout")
    // rows all there, grouped correctly across the mix
    assert(spark.sql("SELECT count(*) FROM gse.db.ev").head()
      .getLong(0) == 120)
    assert(spark.sql(
      "SELECT count(*) FROM gse.db.ev WHERE h = 2").head()
      .getLong(0) == 24)
    // invalid columns are typed errors
    val e = intercept[Exception] { spark.sql(
      "CALL gse.system.set_partition_spec(table => 'db.ev', " +
        "columns => 'nope')").collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("absent column")))
  }
}
