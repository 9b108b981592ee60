package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AnnIndex, IncrementalDedup, IndexMaintenance}
import graft.sources.{CowOps, ManifestTable}

/** CDC-driven index maintenance: a table's change feed applied to the
  * persisted indexes answers exactly like an index built fresh from the
  * table's current state — closing the loop between q94 (the feed) and
  * p46/p58 (the indexes).
  */
class IndexMaintenanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Fmt = "graft.sources.ManifestTable"
  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_maint_$tag").toString

  test("dedup index tails a real COW-merge change feed: equals fresh build from the table's current state") {
    val P = IncrementalDedup.Params(shingleSize = 3, numHashes = 128,
      bands = 32, threshold = 0.8)
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select($"doc_id", $"text")
    val dir = tmp("tbl")
    docs.repartitionByRange(4, $"doc_id").sortWithinPartitions("doc_id")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val v0 = ManifestTable.readManifest(dir).get.version
    val idx = tmp("idx")
    IncrementalDedup.buildIndex(
      spark.read.format(Fmt).option("path", dir).load(),
      "doc_id", "text", P, idx)

    // the table changes: every 50th doc's text is replaced (update =
    // delete+insert in the feed) and three new docs insert
    val updates = docs.filter($"doc_id" % 50 === 0)
      .select($"doc_id", concat($"text", lit(" fresh appended tail")).as("text"))
      .unionByName(Seq((9000L, "alpha beta gamma delta epsilon zeta"),
        (9001L, "alpha beta gamma delta epsilon eta"),
        (9002L, "totally unrelated content words here"))
        .toDF("doc_id", "text"))
    CowOps.merge(spark, dir, updates, "doc_id")
    val v1 = ManifestTable.readManifest(dir).get.version

    val feed = ManifestTable.changeFeed(spark, dir, v0, v1)
    val r = IndexMaintenance.maintainDedupIndex(spark, feed,
      "doc_id", "text", P, idx, tmp("idx_out"))
    assert(r.deleted > 0 && r.inserted > r.deleted,
      s"expected updates (delete+insert) plus pure inserts, got $r")

    // ground truth: an index built fresh from the table's CURRENT state
    val fresh = tmp("fresh")
    IncrementalDedup.buildIndex(
      spark.read.format(Fmt).option("path", dir).load(),
      "doc_id", "text", P, fresh)
    val probe = docs.filter($"doc_id" % 7 === 3)
    def pairs(p: String) =
      IncrementalDedup.nearDupsAgainstIndex(spark, probe,
          "doc_id", "text", P, p)
        .select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
    assert(pairs(r.path) == pairs(fresh),
      "maintained index diverged from fresh-build-from-current-state")
    // the new near-dup pair (9000, 9001) is findable through the
    // maintained index
    val newProbe = Seq((9100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    assert(IncrementalDedup.nearDupsAgainstIndex(spark, newProbe,
        "doc_id", "text", P, r.path)
      .filter($"id_a" === 9000L || $"id_b" === 9000L).count() > 0,
      "inserted docs must be probeable")
  }

  test("ANN index: a feed of deletes+inserts equals a same-centroid rebuild from the retained set") {
    val p = AnnIndex.Params(nlist = 8, dims = 64)
    val emb = graft.api.Tables.t(spark, TestSpark.sf0001, "embeddings")
    val base = emb.filter(col("vec_id") < 400)
    val incoming = emb.filter(col("vec_id") >= 400)
    val idx = tmp("ann")
    AnnIndex.buildIndex(base, "vec_id", "embedding", p, idx)

    val victims = Seq(10L, 55L, 120L)
    val feed = incoming
      .select(lit("insert").as("_change_type"), col("vec_id"),
        col("embedding"))
      .unionByName(base.filter(col("vec_id").isin(victims: _*))
        .select(lit("delete").as("_change_type"), col("vec_id"),
          col("embedding")))
    val r = IndexMaintenance.maintainAnnIndex(spark, feed,
      "vec_id", "embedding", p, idx, tmp("ann_out"))
    assert(r.deleted == 3 && r.inserted == incoming.count())
    assert(r.path != idx, "deletes must land in a fresh path")

    // ground truth: same stored centroids, retained+incoming re-appended
    val fresh = tmp("ann_fresh")
    AnnIndex.compactIndex(spark, idx, fresh,
      dropIds = spark.read.parquet(s"$idx/postings")
        .select("nid").distinct().as[Long].collect().toSeq)
    AnnIndex.appendBatch(emb.filter(!col("vec_id").isin(victims: _*)),
      "vec_id", "embedding", p, fresh, "retained")
    val queries = emb.filter(col("vec_id") % 40 === 0)
    Seq(1, p.nlist).foreach { np =>
      val a = AnnIndex.topKAgainstIndex(spark, queries, "vec_id",
          "embedding", 5, np, p, r.path)
        .orderBy("qid", "rank").collect().toSeq
      val b = AnnIndex.topKAgainstIndex(spark, queries, "vec_id",
          "embedding", 5, np, p, fresh)
        .orderBy("qid", "rank").collect().toSeq
      assert(a == b, s"maintained ANN index diverged at nprobe=$np")
    }
  }

  test("a pure-insert feed folds in place (no compaction, same path back)") {
    val P = IncrementalDedup.Params(shingleSize = 3, numHashes = 128,
      bands = 32, threshold = 0.8)
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val idx = tmp("inplace")
    IncrementalDedup.buildIndex(docs.filter($"doc_id" < 450),
      "doc_id", "text", P, idx)
    val feed = docs.filter($"doc_id" >= 450)
      .select(lit("insert").as("_change_type"), $"doc_id", $"text")
    val r = IndexMaintenance.maintainDedupIndex(spark, feed,
      "doc_id", "text", P, idx, tmp("unused"))
    assert(r.path == idx && r.deleted == 0 && r.inserted == 50)
  }
}
