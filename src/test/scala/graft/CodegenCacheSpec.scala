package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.internal.StaticSQLConf
import org.scalatest.funsuite.AnyFunSuite
import graft.api.Registry

/** Spark's codegen cache must hold the engine's working set: at Spark's
  * default of 100 classes a warm p92 chain evicts each generated class
  * before its reuse and recompiles it on every run.
  */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  // AQE off: with it on, which side of the chain's last join becomes
  // the broadcast side depends on which shuffle stage finishes first, so
  // an occasional warm run meets a plan variant (2-3 classes) it has not
  // compiled yet. Static planning gives one plan, about 200 classes.
  test("a warm p92 chain reuses every generated class") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val chain = Registry.byName("p92_pipeline_e2e")
    chain.run(s, TestSpark.sf0001).count()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    chain.run(s, TestSpark.sf0001).count()
    assert(compiles.getCount - before == 0,
      "the second run recompiled generated classes")
  }

  test("the shared session carries the engine's codegen cache size") {
    val expected = GraftExtensions.CodegenCacheEntries.toString
    assert(spark.conf.get(key) == expected)
    assert(Bridge.activeConf.map(_.get(key)).contains(expected))
  }

  test("withEngineDefaults fills a missing size and keeps a user's") {
    val bare = GraftExtensions.withEngineDefaults(new SparkConf(false))
    assert(bare.get(key) == GraftExtensions.CodegenCacheEntries.toString)
    val user = GraftExtensions.withEngineDefaults(
      new SparkConf(false).set(key, "50"))
    assert(user.get(key) == "50")
  }
}
