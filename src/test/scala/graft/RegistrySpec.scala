package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.api.Registry

/** Smoke: every registered query runs and returns rows at sf0.001, and
  * the registry upholds the driver contract's naming invariants.
  */
class RegistrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("names are unique and oracle keys are a subset of query names") {
    assert(Registry.byName.size == Registry.all.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.benchQueries.toSet.subsetOf(SparkEntry.queries.keySet))
  }

  test("the extended bench group is 21 distinct queries outside the other groups") {
    val ext = SparkEntry.benchQueriesExtended
    assert(ext.size == 21 && ext.distinct.size == 21, ext)
    assert(ext.toSet.subsetOf(SparkEntry.queries.keySet))
    assert(ext.intersect(SparkEntry.benchQueries).isEmpty)
    assert(ext.intersect(graft.queries.StorageLayout.benchPairs.map(_._1)).isEmpty)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("seeded sample is deterministic across runs") {
    val q = Registry.byName("q32_sample")
    val a = q.run(spark, TestSpark.sf0001).collect().toSeq
    val b = q.run(spark, TestSpark.sf0001).collect().toSeq
    assert(a == b)
  }

  test("RNG .sample(seed) is deterministic for a fixed seed, ~fraction-sized") {
    // q32 itself uses the oracle-mirrorable fnv1a32 hash split; Spark's
    // Bernoulli RNG sampler is covered here (its output can't be oracled
    // because engine RNGs differ)
    val orders = spark.read.parquet(s"${TestSpark.sf0001}/orders.parquet")
    val a = orders.sample(withReplacement = false, fraction = 0.1, seed = 7)
      .select("o_orderkey").collect().toSeq
    val b = orders.sample(withReplacement = false, fraction = 0.1, seed = 7)
      .select("o_orderkey").collect().toSeq
    assert(a == b)
    val n = orders.count().toDouble
    assert(math.abs(a.size - 0.1 * n) <= 0.05 * n, s"${a.size} of $n")
  }

  Registry.all.foreach { q =>
    test(s"${q.name} runs at sf0.001 and returns rows") {
      assert(q.run(spark, TestSpark.sf0001).count() > 0, q.name)
    }
  }
}
