package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AnnIndex, Similarity}

/** Persisted IVF index (p58): exhaustive probe equals brute force,
  * narrow probes prune cell partitions at the scan, appends assign with
  * the stored centroids (no refit), params mismatches are rejected.
  */
class AnnIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val p = AnnIndex.Params(nlist = 8, dims = 64)
  private def emb = graft.api.Tables
    .t(spark, TestSpark.sf0001, "embeddings")
  private def tmp(): String =
    Files.createTempDirectory("graft_annidx").toString

  private def builtIndex(): String = {
    val path = tmp()
    AnnIndex.buildIndex(emb.filter(col("vec_id") % 5 =!= 0),
      "vec_id", "embedding", p, path)
    AnnIndex.appendBatch(emb.filter(col("vec_id") % 5 === 0),
      "vec_id", "embedding", p, path, "b")
    path
  }

  test("exhaustive probe (nprobe = nlist) equals brute-force top-k") {
    val path = builtIndex()
    val queries = emb.filter(col("vec_id") % 40 === 0)
    val got = AnnIndex.topKAgainstIndex(spark, queries, "vec_id",
        "embedding", k = 5, nprobe = p.nlist, p, path)
      .select("qid", "nid", "cos", "rank")
      .orderBy("qid", "rank").collect().toSeq
    val want = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("qid", "nid", "cos", "rank")
      .orderBy("qid", "rank").collect().toSeq
    assert(got == want && got.nonEmpty)
  }

  test("narrow probe prunes cell partitions at the postings scan") {
    val path = builtIndex()
    // AQE off so the FileSourceScan sits in the plan tree directly
    // (query stages hide children from collect); pruning itself is
    // static — the probed cells are literals at plan time either way
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val totalFiles = s.read.parquet(s"$path/postings").inputFiles.length
    val df = AnnIndex.topKAgainstIndex(s,
      graft.api.Tables.t(s, TestSpark.sf0001, "embeddings")
        .filter(col("vec_id") === 0),
      "vec_id", "embedding", k = 5, nprobe = 1, p, path)
    df.collect()
    val postingsScan = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec
        if f.metadata.get("Location").exists(_.contains("postings")) => f
    }.headOption.getOrElse(
      fail(s"no postings scan found in:\n${df.queryExecution.executedPlan}"))
    val read = postingsScan.metrics("numFiles").value
    assert(read < totalFiles && read >= 1,
      s"nprobe=1 must read a strict subset of cell files " +
        s"($read of $totalFiles)")
  }

  test("recall at nprobe = 2 of 8 clears the adversarial floor") {
    val path = builtIndex()
    val queries = emb.filter(col("vec_id") % 40 === 0)
    val approx = AnnIndex.topKAgainstIndex(spark, queries, "vec_id",
        "embedding", k = 5, nprobe = 2, p, path)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = (approx & exact).size.toDouble / exact.size
    // uniform-random embeddings are IVF's worst geometry; 2/8 cells of a
    // coarse quantizer still must beat blind 2/8 sampling
    assert(recall >= 0.25, s"recall $recall")
  }

  test("append assigns with the STORED centroids: probe finds appended vectors") {
    val path = tmp()
    AnnIndex.buildIndex(emb.filter(col("vec_id") % 5 =!= 0),
      "vec_id", "embedding", p, path)
    val preCentroids = graft.sources.FsMeta
      .readString(s"$path/centroids.json")
    AnnIndex.appendBatch(emb.filter(col("vec_id") % 5 === 0),
      "vec_id", "embedding", p, path, "b")
    assert(graft.sources.FsMeta.readString(s"$path/centroids.json")
      == preCentroids, "append must not refit the quantizer")
    // exhaustive probe sees every appended vector as a candidate
    val got = AnnIndex.topKAgainstIndex(spark,
        emb.filter(col("vec_id") % 40 === 0), "vec_id", "embedding",
        k = 5, nprobe = p.nlist, p, path)
      .filter(col("nid") % 5 === 0)
    assert(got.count() > 0, "appended vectors must be reachable")
  }

  test("an appended vector lands in the cell the build gave it") {
    val path = tmp()
    AnnIndex.buildIndex(emb.filter(col("vec_id") % 5 =!= 0),
      "vec_id", "embedding", p, path)
    // re-append some of the build's own vectors: each must land exactly
    // where the build put it, so every such nid has two postings in ONE cell
    val again = emb.filter(col("vec_id") % 5 === 1)
    AnnIndex.appendBatch(again, "vec_id", "embedding", p, path, "again")
    val cells = spark.read.parquet(s"$path/postings")
      .join(again.select(col("vec_id").as("nid")), "nid")
      .groupBy("nid")
      .agg(count(lit(1)).as("n"), countDistinct("cell").as("cells"))
      .select("n", "cells").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cells == Set((2L, 1L)), s"(postings, cells) per nid: $cells")
    assert(spark.read.parquet(s"$path/postings").select("cell").distinct()
      .count() > 1, "the quantizer must spread the build over several cells")
  }

  test("params mismatch is rejected for append and probe") {
    val path = builtIndex()
    val wrong = AnnIndex.Params(nlist = 4, dims = 64)
    val e1 = intercept[IllegalArgumentException] {
      AnnIndex.appendBatch(emb.limit(1), "vec_id", "embedding", wrong, path,
        "b")
    }
    assert(e1.getMessage.contains("index families"))
    val e2 = intercept[IllegalArgumentException] {
      AnnIndex.topKAgainstIndex(spark, emb.limit(1), "vec_id",
        "embedding", 5, 2, wrong, path)
    }
    assert(e2.getMessage.contains("index families"))
  }

  test("compactIndex: cell layout preserved, files collapsed, deletion equals retained rebuild") {
    val path = builtIndex() // build + one append -> 2 file sets per cell
    val out = tmp() + "/compacted"
    val queries = emb.filter(col("vec_id") % 40 === 0)
    def exhaustive(idx: String, q: org.apache.spark.sql.DataFrame) =
      AnnIndex.topKAgainstIndex(spark, q, "vec_id", "embedding",
          k = 5, nprobe = p.nlist, p, idx)
        .select("qid", "nid", "cos", "rank")
        .orderBy("qid", "rank").collect().toSeq

    // plain compaction: same answers, fewer files, cell dirs intact
    val before = exhaustive(path, queries)
    AnnIndex.compactIndex(spark, path, out)
    assert(exhaustive(out, queries) == before)
    def files(idx: String) =
      spark.read.parquet(s"$idx/postings").inputFiles.length
    assert(files(out) < files(path),
      s"append-accreted files must collapse: ${files(path)} -> ${files(out)}")
    assert(graft.sources.FsMeta.listSubdirs(s"$out/postings")
      .count(_.startsWith("cell=")) == p.nlist,
      "the cell partition layout must survive compaction")

    // deletion: drop each query's rank-1 neighbor; the probe against the
    // forgotten index equals an index REBUILT from the retained vectors
    // against the same stored centroids
    val victims = before.filter(_.getInt(3) == 1)
      .map(_.getLong(1)).distinct.take(3).toSeq
    assert(victims.nonEmpty)
    val forgotten = tmp() + "/forgotten"
    AnnIndex.compactIndex(spark, path, forgotten, dropIds = victims)
    val got = exhaustive(forgotten, queries)
    assert(!got.exists(r => victims.contains(r.getLong(1))),
      "a forgotten vector must appear in no result")
    assert(got != before, "dropping rank-1 neighbors must change top-k")
    // ground truth: retained vectors re-appended against the SAME
    // centroids (a fresh build would refit the quantizer)
    val rebuilt = tmp() + "/rebuilt"
    AnnIndex.compactIndex(spark, path, rebuilt,
      dropIds = spark.read.parquet(s"$path/postings")
        .select("nid").distinct().collect().map(_.getLong(0)).toSeq)
    AnnIndex.appendBatch(
      emb.filter(!col("vec_id").isin(victims: _*)), "vec_id",
      "embedding", p, rebuilt, "retained")
    assert(exhaustive(rebuilt, queries) == got)
  }
}
