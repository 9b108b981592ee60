package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Packing

/** Streaming sequence packing — [[graft.operators.Packing]]'s ingest
  * twin: documents stream in (ids monotone with arrival, the DedupIngest
  * contract) and each micro-batch's packing map lands in
  * `outPath/batch=<b>/`, CONTINUING the global token stream exactly
  * where the previous batch ended — a sequence half-filled by batch b
  * is completed by batch b+1, so the concatenation of all batch maps
  * is provably IDENTICAL to packing the whole corpus in one shot
  * (PackIngestSpec pins it under different trigger sizes).
  *
  * CRASH SEMANTICS: [[BatchCommit]]'s protocol with a payload marker.
  * The entire cross-batch state is ONE number (the token offset after
  * the last committed batch), and it is the payload of batch b's
  * marker. Batch b's base offset is read from batch b-1's marker
  * (foreachBatch is serial, so it exists — an empty batch commits its
  * marker too), the batch map is a pure function of (batch, base), and
  * the output directory is written with OVERWRITE — so every crash
  * window replays to the identical map, with no table format and no
  * side state file.
  */
object PackIngest {

  /** The token offset after `batchId` (its marker payload); 0 before
    * batch 0.
    */
  def offsetAfter(outPath: String, batchId: Long): Long =
    if (batchId < 0) 0L
    else BatchCommit.payload(outPath, batchId).trim.toLong

  /** One micro-batch: pack from the predecessor's committed offset,
    * OVERWRITE `outPath/batch=<b>/`, publish the new offset as the
    * commit marker. Idempotent per (outPath, batchId).
    */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, seqLen: Int, outPath: String): Unit =
    BatchCommit.commitWithPayload(outPath, batchId) {
      val base = offsetAfter(outPath, batchId - 1)
      import org.apache.spark.sql.functions._
      val counts = batch.select(col(idCol).cast("long").as("id"),
        size(split(col(textCol), " ")).cast("long").as("n"))
      val batchTokens = counts.agg(coalesce(sum(when(col("n") > 0, col("n"))
        .otherwise(0L)), lit(0L))).collect()(0).getLong(0)
      Packing.packCounts(counts, seqLen, base)
        .write.mode(SaveMode.Overwrite).parquet(s"$outPath/batch=$batchId")
      (base + batchTokens).toString
    }

  /** Start the ingest stream; read the accumulated map with
    * `spark.read.parquet(outPath)` (per-batch dirs surface as a
    * `batch` partition column).
    */
  def ingestStream(docs: DataFrame, idCol: String, textCol: String,
      seqLen: Int, outPath: String, checkpointDir: String): StreamingQuery =
    BatchCommit.start(docs, checkpointDir)(
      processBatch(_, _, idCol, textCol, seqLen, outPath))
}
