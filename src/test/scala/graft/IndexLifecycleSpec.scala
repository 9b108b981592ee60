package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AnnIndex, IncrementalDedup}

/** Cross-operation lifecycle audit for BOTH persisted indexes (round-12
  * ask #8): interleave append → delete → append → compact → DISTRIBUTED
  * PURGE and assert the surviving index answers probe-for-probe like one
  * built fresh from the retained corpus. The single-step contracts live
  * in AnnIndexSpec / IncrementalDedupSpec / PurgeSpec; this is the drift
  * check across the whole maintenance cycle — the way a production index
  * actually ages, with both deletion tiers (literal compaction AND the
  * bloom-split purge) in one history.
  */
class IndexLifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_lifecycle_$tag").toString

  test("IVF index: build -> append -> delete-compact -> append -> compact equals fresh-from-retained (every nprobe rung)") {
    val p = AnnIndex.Params(nlist = 8, dims = 64)
    val emb = graft.api.Tables.t(spark, TestSpark.sf0001, "embeddings")
    val a = emb.filter(col("vec_id") % 5 =!= 0 && col("vec_id") < 400)
    val b = emb.filter(col("vec_id") % 5 === 0 && col("vec_id") < 400)
    val c = emb.filter(col("vec_id") >= 400)
    val queries = emb.filter(col("vec_id") % 40 === 0)
    def probe(idx: String, nprobe: Int) =
      AnnIndex.topKAgainstIndex(spark, queries, "vec_id", "embedding",
          k = 5, nprobe = nprobe, p, idx)
        .select("qid", "nid", "cos", "rank")
        .orderBy("qid", "rank").collect().toSeq

    val idx1 = tmp("ivf1")
    AnnIndex.buildIndex(a, "vec_id", "embedding", p, idx1)
    AnnIndex.appendBatch(b, "vec_id", "embedding", p, idx1, "b")
    // delete vectors that matter: each query's rank-1 neighbor
    val victims = probe(idx1, p.nlist).filter(_.getInt(3) == 1)
      .map(_.getLong(1)).distinct.take(4).toSeq
    assert(victims.nonEmpty)
    val idx2 = tmp("ivf2")
    AnnIndex.compactIndex(spark, idx1, idx2, dropIds = victims)
    AnnIndex.appendBatch(c, "vec_id", "embedding", p, idx2, "c")
    val idx3 = tmp("ivf3")
    AnnIndex.compactIndex(spark, idx2, idx3)
    // the second deletion tier in the SAME history: a frame-shaped
    // takedown set through the distributed bloom-split purge
    val victims2 = emb.filter(col("vec_id") % 9 === 4 &&
      !col("vec_id").isin(victims: _*)).select("vec_id")
    assert(victims2.count() > 10)
    val idx4 = tmp("ivf4")
    AnnIndex.purgeIndex(spark, idx3, idx4, victims2, "vec_id")

    // fresh-from-retained against the SAME stored centroids (a fresh
    // buildIndex would refit the quantizer): empty the original index
    // by compaction, then append the full retained corpus
    val victim2Set = victims2.as[Long].collect().toSet
    val fresh = tmp("ivffresh")
    AnnIndex.compactIndex(spark, idx1, fresh,
      dropIds = spark.read.parquet(s"$idx1/postings")
        .select("nid").distinct().as[Long].collect().toSeq)
    AnnIndex.appendBatch(
      emb.filter(!col("vec_id").isin(victims: _*) &&
        !col("vec_id").isin(victim2Set.toSeq: _*)),
      "vec_id", "embedding", p, fresh, "retained")

    // probe-for-probe: exact rung AND both approximate rungs
    Seq(1, 2, p.nlist).foreach { np =>
      assert(probe(idx4, np) == probe(fresh, np),
        s"lifecycle index diverged from fresh build at nprobe=$np")
    }
    assert(!probe(idx4, p.nlist).exists(r =>
      victims.contains(r.getLong(1)) || victim2Set.contains(r.getLong(1))),
      "a deleted vector must appear in no probe result")
    // the aged index stays within one survivor file set per cell of the
    // fresh one (the purge appends bloom-positive survivors per cell)
    def files(idx: String) =
      spark.read.parquet(s"$idx/postings").inputFiles.length
    assert(files(idx4) <= files(fresh) + p.nlist,
      s"purge must not explode the aged index's file count: " +
        s"${files(idx4)} vs ${files(fresh)} + ${p.nlist}")
  }

  test("MinHash dedup index: build -> append -> delete-compact -> append -> compact equals fresh-from-retained") {
    val P = IncrementalDedup.Params(shingleSize = 3, numHashes = 128,
      bands = 32, threshold = 0.8)
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val corpus = docs.filter($"doc_id" % 5 =!= 0 && $"doc_id" < 400)
    val b1 = docs.filter($"doc_id" % 5 === 0 && $"doc_id" < 400)
    val b2 = docs.filter($"doc_id" >= 400)
    val probeBatch = docs.filter($"doc_id" % 7 === 3)
    def pairs(idx: String) =
      IncrementalDedup.nearDupsAgainstIndex(spark, probeBatch,
          "doc_id", "text", P, idx)
        .select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet

    val idx1 = tmp("mh1")
    IncrementalDedup.buildIndex(corpus, "doc_id", "text", P, idx1)
    IncrementalDedup.appendBatch(b1, "doc_id", "text", P, idx1, "b1")
    // forget docs that participate in pairs (non-vacuous deletion)
    val victims = pairs(idx1).flatMap(p => Seq(p._1, p._2))
      .filter(_ < 400).take(3).toSeq
    assert(victims.nonEmpty, "fixtures plant near-dups")
    val idx2 = tmp("mh2")
    IncrementalDedup.compactIndex(spark, idx1, idx2, dropIds = victims)
    IncrementalDedup.appendBatch(b2, "doc_id", "text", P, idx2, "b2")
    val idx3 = tmp("mh3")
    IncrementalDedup.compactIndex(spark, idx2, idx3)
    // the second deletion tier in the SAME history: a frame-shaped
    // takedown set through the distributed bloom-split purge
    val victims2 = docs.filter($"doc_id" % 13 === 2 &&
      !$"doc_id".isin(victims: _*)).select($"doc_id")
    assert(victims2.count() > 10)
    val idx4 = tmp("mh4")
    IncrementalDedup.purgeIndex(spark, idx3, idx4, victims2, "doc_id")

    // MinHash is a fixed deterministic family: a genuinely FRESH build
    // from the retained corpus is the ground truth (no quantizer refit
    // caveat here, unlike IVF)
    val fresh = tmp("mhfresh")
    IncrementalDedup.buildIndex(
      docs.filter(!$"doc_id".isin(victims: _*))
        .join(victims2, Seq("doc_id"), "left_anti"),
      "doc_id", "text", P, fresh)

    assert(pairs(idx4) == pairs(fresh),
      "aged dedup index diverged from the fresh build")
    val victim2Set = victims2.as[Long].collect().toSet
    assert(!pairs(idx4).exists(p =>
      victims.contains(p._1) || victims.contains(p._2) ||
        victim2Set.contains(p._1) || victim2Set.contains(p._2)),
      "a forgotten doc must appear in no pair")
    // deletion is physical in the aged index, not just filtered
    Seq("bands", "shingles").foreach { t =>
      assert(spark.read.parquet(s"$idx4/$t")
        .filter(col("id").isin((victims ++ victim2Set).toSeq: _*))
        .count() == 0,
        s"victims still physically present in $t")
    }
  }
}
