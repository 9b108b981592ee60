package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AnnIndex, IncrementalDedup}
import graft.sources.FsMeta
import graft.streaming._

/** The empty-batch rule of the sinks that commit through
  * [[graft.streaming.BatchCommit]] without a payload: an empty
  * micro-batch writes no marker and no output, and the stream's next
  * non-empty batch commits as usual. (PackIngest, whose marker carries
  * the offset chain, commits empty batches: PackIngestSpec.)
  */
class BatchCommitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_commit_$tag").toString

  /** One sink: its marker root, the batch step, a non-empty batch, and
    * the paths a committed batch `b` leaves behind.
    */
  private case class Sink(name: String, markerRoot: String,
      run: (DataFrame, Long) => Unit, batch: DataFrame,
      outputs: Long => Seq[String])

  private def sinks(): Seq[Sink] = {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val events = spark.read.parquet(s"${TestSpark.sf0001}/events.parquet")

    val drift = tmpDir("drift")
    DriftMonitor.initReference(docs.filter($"doc_id" % 2 === 0), "text",
      s"$drift/ref")
    val burst = tmpDir("burst")
    val edrift = tmpDir("edrift")
    EmbedDriftMonitor.initReference(emb.filter($"vec_id" % 2 === 0),
      "embedding", s"$edrift/ref")
    val annP = AnnIndex.Params(nlist = 8, dims = 64)
    val ann = tmpDir("ann")
    AnnIndex.buildIndex(emb.filter($"vec_id" < 200), "vec_id", "embedding",
      annP, ann)
    val dedupP = IncrementalDedup.Params()
    val dedup = tmpDir("dedup")
    DedupIngest.initEmptyIndex(spark, "doc_id", "text", dedupP, s"$dedup/idx")

    Seq(
      Sink("DriftMonitor", drift,
        DriftMonitor.processBatch(_, _, "text", s"$drift/ref", drift),
        docs.filter($"doc_id" % 2 =!= 0),
        b => Seq(s"$drift/counts/batch=$b", s"$drift/metrics/batch=$b")),
      Sink("BurstMonitor", burst,
        BurstMonitor.processBatch(_, _, "event_type", "ts", burst),
        events,
        b => Seq(s"$burst/counts/batch=$b", s"$burst/bursts/batch=$b")),
      Sink("EmbedDriftMonitor", edrift,
        EmbedDriftMonitor.processBatch(_, _, "embedding", s"$edrift/ref",
          edrift),
        emb.filter($"vec_id" % 2 =!= 0),
        b => Seq(s"$edrift/stats/batch=$b", s"$edrift/metrics/batch=$b")),
      Sink("AnnIngest", ann,
        AnnIngest.processBatch(_, _, "vec_id", "embedding", annP, ann),
        emb.filter($"vec_id" >= 200),
        b => Seq(s"$ann/postings/_stage-b$b")),
      Sink("DedupIngest", s"$dedup/idx",
        DedupIngest.processBatch(_, _, "doc_id", "text", dedupP,
          s"$dedup/idx", s"$dedup/kept"),
        docs,
        b => Seq(s"$dedup/kept/batch=$b", s"$dedup/idx/shingles/_stage-b$b",
          s"$dedup/idx/bands/_stage-b$b")))
  }

  test("an empty micro-batch commits nothing; the next non-empty batch commits normally") {
    sinks().foreach { s =>
      s.run(s.batch.limit(0), 0L)
      assert(!FsMeta.exists(s"${s.markerRoot}/_commit_0"),
        s"${s.name}: an empty batch must not publish its marker")
      assert(s.outputs(0L).forall(!FsMeta.exists(_)),
        s"${s.name}: an empty batch must write no output: " +
          s.outputs(0L).filter(FsMeta.exists).mkString(", "))
      s.run(s.batch, 1L)
      assert(FsMeta.exists(s"${s.markerRoot}/_commit_1"),
        s"${s.name}: the next non-empty batch must commit")
      assert(s.outputs(1L).forall(FsMeta.exists),
        s"${s.name}: missing committed output: " +
          s.outputs(1L).filterNot(FsMeta.exists).mkString(", "))
    }
  }
}
