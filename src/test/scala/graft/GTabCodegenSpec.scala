package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** gtab point and range reads hold their keys as data: the scan
  * evaluates the predicates itself, so Spark plans no FilterExec, and a
  * read with a new key reuses every generated class.
  */
class GTabCodegenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val Fmt = "graft.sources.ManifestTable"

  test("point and range reads on new keys compile no classes") {
    val dir = Files.createTempDirectory("graft_cg").toString
    spark.range(0, 20000).select(col("id").as("l_key"),
        (col("id") / 4).cast("long").as("l_orderkey"),
        concat(lit("c"), col("id") % 97).as("l_comment"))
      .repartitionByRange(4, col("l_key"))
      .write.format(Fmt).option("path", dir)
      .option("bloomColumns", "l_orderkey").mode("overwrite").save()
    def table = spark.read.format(Fmt).option("path", dir).load()
    def point(k: Long) = table.filter(col("l_orderkey") === k).collect()
    def range(lo: Long) =
      table.filter(col("l_key") >= lo && col("l_key") < lo + 200).collect()
    point(17L)
    range(1000L)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    assert(point(4321L).length == 4 && point(777L).length == 4)
    assert(range(5000L).length == 200 && range(12345L).length == 200)
    assert(compiles.getCount - before == 0,
      "a read with a new key compiled generated classes")
  }
}
