package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.AnnIndex
import graft.streaming.AnnIngest
import graft.sources.{FsMeta, StagedAppend}

/** Streaming ANN ingest (the [[AnnIngest]] twin): a stream-folded index
  * is probe-for-probe identical to a batch-built one, replays of
  * committed batches are no-ops, and every crash window converges with
  * zero duplicate postings (the exactly-once staged-publish protocol).
  */
class AnnIngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val P = AnnIndex.Params(nlist = 8, dims = 64)

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_anningest_$tag").toString

  private lazy val emb =
    spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
  private lazy val boot = emb.filter($"vec_id" < 200)
  private lazy val rest = emb.filter($"vec_id" >= 200)

  private def postings(idx: String) =
    spark.read.parquet(s"$idx/postings")
      .select($"cell", $"nid").as[(Int, Long)].collect().toSeq

  private def probeAll(idx: String) = {
    val q = emb.filter($"vec_id" % 50 === 0)
    AnnIndex.topKAgainstIndex(spark, q, "vec_id", "embedding", 5,
        P.nlist, P, idx)
      .select($"qid", $"nid", $"rank").as[(Long, Long, Int)].collect().toSet
  }

  test("stream-folded index equals batch-built index probe-for-probe") {
    // batch twin: bootstrap + one append of everything else
    val batchIdx = tmpDir("batch")
    AnnIndex.buildIndex(boot, "vec_id", "embedding", P, batchIdx)
    AnnIndex.appendBatch(rest, "vec_id", "embedding", P, batchIdx, "all")

    // stream twin: same bootstrap, the rest in id-ranged micro-batches
    val root = tmpDir("stream")
    val streamIdx = s"$root/idx"
    AnnIndex.buildIndex(boot, "vec_id", "embedding", P, streamIdx)
    rest.withColumn("part", ($"vec_id" % 3).cast("int"))
      .repartition(1).write.partitionBy("part").parquet(s"$root/src")
    val stream = spark.readStream
      .schema(rest.withColumn("part", lit(0)).schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/src")
      .drop("part")
    val q = AnnIngest.ingestStream(stream, "vec_id", "embedding", P,
      streamIdx, s"$root/ckpt")
    try q.processAllAvailable() finally q.stop()

    // same postings (assignment is a pure function of the stored
    // centroids — batch boundaries cannot move a vector's cell)...
    assert(postings(streamIdx).sorted == postings(batchIdx).sorted)
    assert(postings(streamIdx).size == emb.count())
    // ...and the same exhaustive-probe answers, rank for rank
    val got = probeAll(streamIdx)
    assert(got == probeAll(batchIdx))
    assert(got.nonEmpty)
  }

  test("a replayed committed batch is a no-op; crash windows leave zero duplicate postings") {
    val idx = tmpDir("crash")
    AnnIndex.buildIndex(boot, "vec_id", "embedding", P, idx)
    val b0 = rest.filter($"vec_id" % 2 === 0)
    AnnIngest.processBatch(b0, 0L, "vec_id", "embedding", P, idx)
    val after = postings(idx).sorted
    assert(after.map(_._2).distinct.size == after.size, "sanity: unique ids")

    // committed replay: marker present -> untouched
    AnnIngest.processBatch(b0, 0L, "vec_id", "embedding", P, idx)
    assert(postings(idx).sorted == after)

    // crash window: postings fully published but the marker was lost —
    // the replay must re-stage and publish NOTHING new
    FsMeta.deleteRecursive(s"$idx/_commit_0")
    AnnIngest.processBatch(b0, 0L, "vec_id", "embedding", P, idx)
    assert(postings(idx).sorted == after,
      "replay after a pre-marker crash must not duplicate postings")

    // and a later batch lands once on top
    val b1 = rest.filter($"vec_id" % 2 === 1)
    AnnIngest.processBatch(b1, 1L, "vec_id", "embedding", P, idx)
    val all = postings(idx)
    assert(all.size == all.distinct.size)
    assert(all.size == emb.count())
  }

  test("StagedAppend converges per file: full replay publishes 0, a lost file exactly 1") {
    val root = tmpDir("staged")
    val stage = s"$root/stage"
    val live = s"$root/live"
    def writeStage(): Unit =
      spark.range(100).select(($"id" % 4).cast("int").as("k"), $"id")
        .repartition(4, $"k")
        .write.mode("overwrite").parquet(stage)
    writeStage()
    val n = StagedAppend.publish(stage, live, "b7", bucketed = false)
    assert(n > 0)
    assert(spark.read.parquet(live).count() == 100)
    // replay: re-staged files rename to occupied destinations -> skipped
    writeStage()
    assert(StagedAppend.publish(stage, live, "b7", bucketed = false) == 0)
    assert(spark.read.parquet(live).count() == 100)
    // a destination lost mid-publish is re-published alone
    val victim = FsMeta.listDataFilesRecursive(live).head._2
    FsMeta.deleteRecursive(s"$live/$victim")
    writeStage()
    assert(StagedAppend.publish(stage, live, "b7", bucketed = false) == 1)
    assert(spark.read.parquet(live).count() == 100)
  }

  test("a replay staging a different file set throws instead of silently duplicating") {
    val root = tmpDir("staged_drift")
    val stage = s"$root/stage"
    val live = s"$root/live"
    def writeStage(parts: Int): Unit =
      spark.range(100).select(($"id" % parts).cast("int").as("k"), $"id")
        .repartition(parts, $"k")
        .write.mode("overwrite").parquet(stage)
    writeStage(4)
    assert(StagedAppend.publish(stage, live, "b9", bucketed = false) > 0)
    // a caller that forgets the pinned repartition re-stages 8 parts:
    // the recorded _stage-b9 sidecar catches the divergence
    writeStage(8)
    val e = intercept[IllegalStateException] {
      StagedAppend.publish(stage, live, "b9", bucketed = false)
    }
    assert(e.getMessage.contains("replay-stable"))
    assert(spark.read.parquet(live).count() == 100) // live table untouched
    // the SAME set under a NEW tag is a fresh batch, not a replay
    assert(StagedAppend.publish(stage, live, "b10", bucketed = false) > 0)
    assert(spark.read.parquet(live).count() == 200)
  }

  test("renameIfAbsent: dst-exists is a skip, rename failure with no dst throws") {
    val root = tmpDir("rename_sem")
    FsMeta.mkdirs(root)
    FsMeta.writeString(s"$root/a.txt", "x")
    FsMeta.writeString(s"$root/b.txt", "y")
    // dst exists -> false (replay skip), src untouched
    assert(!FsMeta.renameIfAbsent(s"$root/a.txt", s"$root/b.txt"))
    assert(FsMeta.readString(s"$root/a.txt") == "x")
    // missing src + absent dst: Hadoop reports this as rename()==false;
    // it must surface as an error, not read as a replay skip
    intercept[java.io.IOException] {
      FsMeta.renameIfAbsent(s"$root/missing.txt", s"$root/c.txt")
    }
    // the happy path still renames
    assert(FsMeta.renameIfAbsent(s"$root/a.txt", s"$root/c.txt"))
    assert(FsMeta.readString(s"$root/c.txt") == "x")
  }
}
