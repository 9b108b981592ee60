package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Clustering

/** K-means Lloyd (p77): planted-cluster recovery, monotone inertia,
  * the empty-cell keep rule, explicit init, determinism, and guards.
  */
class ClusteringSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vec(axis: Int, bump: Double): Array[Float] = {
    val v = Array.fill(8)(0.0f)
    v(axis) = 100.0f
    v((axis + 1) % 8) = bump.toFloat
    v
  }

  private def planted = (
    (0 until 4).map(i => (i.toLong, vec(0, i * 1.0))) ++
    (10 until 14).map(i => (i.toLong, vec(3, (i - 10) * 1.0))) ++
    (20 until 24).map(i => (i.toLong, vec(6, (i - 20) * 1.0)))
  ).toDF("vec_id", "embedding")

  test("three planted far-apart clusters are recovered exactly") {
    // one seed per cluster region (default lowest-id seeding would put
    // all three seeds inside cluster 0 — a classic Lloyd local optimum,
    // and exactly why callers get the explicit-init hook)
    val init = Seq(vec(0, 9.0), vec(3, 9.0), vec(6, 9.0))
      .map(_.map(_.toDouble))
    val (assigned, cents) = Clustering.lloyd(planted, "vec_id",
      "embedding", k = 3, iters = 4, init = Some(init))
    val cells = assigned.select("id", "cell")
      .as[(Long, Int)].collect().toMap
    // every planted group lands in ONE cell, groups in distinct cells
    val groups = Seq(0L until 4L, 10L until 14L, 20L until 24L)
      .map(_.map(cells).toSet)
    assert(groups.forall(_.size == 1), s"split cluster: $groups")
    assert(groups.flatten.toSet.size == 3, s"merged clusters: $groups")
    // each centroid sits at its cluster's mean: bump mean = 1.5
    val c0 = cents(cells(0L))
    assert(math.abs(c0(0) - 100.0) < 1e-9 && math.abs(c0(1) - 1.5) < 1e-9)
  }

  test("inertia is non-increasing across rounds") {
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val inertias = (0 to 3).map { it =>
      Clustering.lloydSummary(e, "vec_id", "embedding", k = 4, iters = it)
        .agg(sum("inertia")).as[Double].head()
    }
    assert(inertias.zip(inertias.tail).forall { case (a, b) => b <= a + 1e-6 },
      s"Lloyd must not increase inertia: $inertias")
    assert(inertias.head > inertias.last, "rounds must actually improve")
  }

  test("an empty cell keeps its previous centroid instead of collapsing") {
    // third centroid planted far from every point: no point assigns to
    // it, and it must survive the round verbatim
    val far = Array.fill(8)(1e6)
    val init = Seq(vec(0, 0.0).map(_.toDouble), vec(3, 0.0).map(_.toDouble), far)
    val (_, cents) = Clustering.lloyd(planted, "vec_id", "embedding",
      k = 3, iters = 2, init = Some(init))
    assert(cents(2).toSeq == far.toSeq)
  }

  test("a fixed point ends the loop: more rounds return the same centroids with no more queries") {
    val init = Seq(vec(0, 9.0), vec(3, 9.0), vec(6, 9.0))
      .map(_.map(_.toDouble))
    def fit(iters: Int): (Seq[Seq[Double]], Int) = {
      org.apache.spark.sql.graftshim.Bridge.waitForListeners(spark)
      val queries = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
          queries.incrementAndGet(): Unit
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        val (_, cents) = Clustering.lloyd(planted, "vec_id", "embedding",
          k = 3, iters = iters, init = Some(init))
        org.apache.spark.sql.graftshim.Bridge.waitForListeners(spark)
        (cents.map(_.toSeq), queries.get)
      } finally spark.listenerManager.unregister(listener)
    }
    // the planted clusters settle in two rounds
    val (c4, n4) = fit(4)
    val (c40, n40) = fit(40)
    assert(c40 == c4)
    assert(n40 == n4, s"40 rounds ran $n40 queries, 4 rounds $n4")
  }

  test("deterministic run-to-run; k beyond the corpus rejected; iters=0 returns init assignment") {
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    def run() = Clustering.lloydSummary(e, "vec_id", "embedding", 4, 2)
      .orderBy("cell").as[(Int, Long, Double, Double)].collect().toSeq
    assert(run() == run())
    intercept[IllegalArgumentException] {
      Clustering.lloyd(planted, "vec_id", "embedding", k = 1000, iters = 1)
    }
    val (a0, c0) = Clustering.lloyd(planted, "vec_id", "embedding",
      k = 2, iters = 0)
    assert(a0.count() == 12 && c0.length == 2)
  }
}
