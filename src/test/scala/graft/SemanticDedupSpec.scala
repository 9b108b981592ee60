package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{SemanticDedup, Similarity}

/** SemDeDup (p61): nlist = 1 degenerates to exact global semantic dedup;
  * multi-cluster scoping equals global on a well-separated mixture; the
  * keep policy is argmax distance-to-centroid with min-id ties; the plan
  * never forms a cross-product.
  */
class SemanticDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val embeddings =
    spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")

  test("nlist = 1 pair set equals the global exact blocked join") {
    val scoped = SemanticDedup.semanticPairs(embeddings, "vec_id",
        "embedding", threshold = 0.4, nlist = 1)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSet
    val global = Similarity.cosineNearDupPairs(embeddings, threshold = 0.4)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSet
    assert(scoped == global)
    assert(global.nonEmpty, "fixtures plant embedding near-dups")
  }

  /** 3 tight clusters at far-apart centers, each with a planted
    * near-identical pair; points within a cluster but outside a pair sit
    * below the cosine threshold. Deterministic arithmetic fixture.
    */
  private def mixture(): org.apache.spark.sql.DataFrame = {
    val dims = 8
    def vec(center: Int, i: Int, eps: Float): Array[Float] = {
      val v = Array.fill(dims)(0.0f)
      v(center) = 10.0f          // cluster axis
      v((center + 1) % dims) = 1.0f + i * 0.9f // in-cluster spread
      v((center + 2) % dims) = eps // pair perturbation
      v
    }
    val rows = for {
      c <- 0 until 3
      i <- 0 until 4
    } yield {
      val id = (c * 10 + i).toLong
      // ids c*10+0 and c*10+1 are a planted near-dup pair (eps differs
      // slightly); i = 2, 3 are spread apart
      val eps = if (i <= 1) 0.01f * i else 5.0f * i
      (id, vec(c, if (i <= 1) 0 else i, eps))
    }
    rows.toDF("vec_id", "embedding")
  }

  test("well-separated mixture: cluster-scoped (nlist = 3) equals global (nlist = 1)") {
    val m = mixture()
    def report(nlist: Int) = SemanticDedup.dedupReport(m, "vec_id",
        "embedding", threshold = 0.995, nlist = nlist)
      .select("doc_id", "group_id", "is_canonical")
      .as[(Long, Long, Boolean)].collect().toSet
    val global = report(1)
    assert(report(3) == global,
      "no near-dup pair straddles clusters, so scoping must be lossless")
    // the planted pairs actually grouped: 3 two-doc groups, 6 singletons
    val grouped = global.groupBy(_._2).values
    assert(grouped.count(_.size == 2) == 3 && grouped.count(_.size == 1) == 6)
  }

  test("keep policy: the component member farthest from its centroid is canonical") {
    // one cluster; pair (0, 1) near-identical but 1 sits farther from the
    // centroid of all points -> 1 is the keeper despite the larger id
    // centroid dim-1 mean = (1.0 + 0.9 + 9.0)/3 = 3.633…: doc 1's 0.9
    // sits FARTHER from it than doc 0's 1.0, so 1 is the keeper
    val rows = Seq(
      0L -> Array(10.0f, 1.0f, 0.0f, 0f, 0f, 0f, 0f, 0f),
      1L -> Array(10.0f, 0.9f, 0.0f, 0f, 0f, 0f, 0f, 0f),
      2L -> Array(10.0f, 9.0f, 3.0f, 0f, 0f, 0f, 0f, 0f))
    val out = SemanticDedup.dedupReport(rows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", threshold = 0.999, nlist = 1)
      .select("doc_id", "group_id", "quality", "is_canonical")
      .as[(Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(0L)._2 == 0L && !out(0L)._4)
    assert(out(1L)._2 == 0L && out(1L)._4,
      s"doc 1 is farther from the centroid (q=${out(1L)._3} vs " +
        s"${out(0L)._3}) and must be the SemDeDup keeper")
    assert(out(2L)._4, "singletons are their own keepers")
    assert(out(1L)._3 > out(0L)._3)
  }

  test("no cross product anywhere in the plan") {
    val plan = SemanticDedup.dedupReport(embeddings, "vec_id", "embedding",
      threshold = 0.4, nlist = 2).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"cluster-scoped dedup must stay equi-join shaped:\n$plan")
  }

  test("caller-supplied centroids (the fit-on-a-sample path) match the fitted path") {
    val m = mixture()
    val fitted = SemanticDedup.dedupReport(m, "vec_id", "embedding",
        threshold = 0.995, nlist = 3)
      .select("doc_id", "group_id")
      .as[(Long, Long)].collect().toSet
    // hand the operator the IDEAL centroids for the planted mixture —
    // axis spikes at the three cluster centers; the scoring pass must
    // produce the same cells, pairs, and GROUPS without ever running
    // the Lloyd fit (the keeper may legitimately differ — distance ranks
    // depend on where the centroid sits, so only grouping is compared)
    val ideal = (0 until 3).map { c =>
      val v = Array.fill(8)(0.0)
      v(c) = 10.0; v
    }
    val supplied = SemanticDedup.dedupReportWithCentroids(m, "vec_id",
        "embedding", threshold = 0.995, centroids = ideal)
      .select("doc_id", "group_id")
      .as[(Long, Long)].collect().toSet
    assert(supplied == fitted)
    assert(supplied.groupBy(_._2).values.count(_.size == 2) == 3,
      "the three planted pairs must group under supplied centroids too")
  }

  test("semantic decontamination: clean() removes exactly the overlap set, eval broadcast") {
    import graft.operators.Decontaminate
    val train = embeddings.filter($"vec_id" % 20 =!= 0)
    val eval = embeddings.filter($"vec_id" % 20 === 0)
    val overlap = Decontaminate.semanticOverlap(train, eval, "vec_id",
      "embedding", threshold = 0.4)
    val hitIds = overlap.select("id").as[Long].collect().toSet
    assert(hitIds.nonEmpty, "fixtures plant embedding near-dups that " +
      "straddle the %20 split")
    val cleanIds = Decontaminate.semanticClean(train, eval, "vec_id",
      "embedding", threshold = 0.4).select("vec_id").as[Long].collect().toSet
    val trainIds = train.select("vec_id").as[Long].collect().toSet
    assert(cleanIds == trainIds -- hitIds)
    // a stricter threshold can only shrink the contaminated set
    val strict = Decontaminate.semanticOverlap(train, eval, "vec_id",
        "embedding", threshold = 0.9).select("id").as[Long].collect().toSet
    assert(strict.subsetOf(hitIds))
    // eval rides a broadcast; the train side reaches the cosine with no
    // exchange below the aggregation
    val plan = overlap.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"))
  }

  test("nlist < 1 is rejected") {
    val e = intercept[IllegalArgumentException] {
      SemanticDedup.dedupReport(embeddings, "vec_id", "embedding", 0.4,
        nlist = 0)
    }
    assert(e.getMessage.contains("nlist"))
  }
}
