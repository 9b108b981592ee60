package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Drift

/** Streaming corpus-drift monitor — the ingest-time twin of the batch
  * [[Drift]] detector: documents arrive as a stream, each micro-batch
  * folds its token counts into a persisted counts table, and one KL
  * metrics row per batch tracks how far the CUMULATIVE ingested
  * distribution has drifted from a frozen reference slice. This is the
  * monitoring shape a 100 TB ingest actually runs (catch the scraper
  * change WHILE it is polluting the crawl, not at the post-hoc audit):
  * per batch the work is O(batch tokens) counting plus a
  * vocabulary-sized KL join — the already-ingested corpus is never
  * rescanned, because its sufficient statistic (the counts table) is
  * what persists.
  *
  * Numerical contract: the metrics row for batch b equals
  * `Drift.tokenKl(ref, all docs in batches <= b)` — streaming and batch
  * share [[Drift.tokenKlFromCounts]] as the single formula code path,
  * and token counts are exactly additive across any batch partitioning,
  * so the equality is batch-boundary-INVARIANT (spec-pinned under
  * different trigger sizes).
  *
  * Crash semantics: [[BatchCommit]]'s protocol through its
  * [[BatchCommit.monitorBatch]] step — batch b's counts land in
  * `counts/batch=b/` and its metrics row in `metrics/batch=b/`, both
  * OVERWRITTEN, so a replay of an uncommitted batch replaces its own
  * directories instead of double-counting. Readers aggregate `counts/`
  * by token on read; [[graft.operators.Compaction]] applies if small
  * batch directories accumulate (plain parquet — no bucketing to
  * preserve here, unlike the dedup index).
  */
object DriftMonitor {

  /** Freeze the reference slice's token counts at `refPath` — the drift
    * baseline every batch is compared against. Overwrites.
    */
  def initReference(ref: DataFrame, textCol: String, refPath: String): Unit =
    Drift.tokenCounts(ref, textCol, "cr")
      .write.mode(SaveMode.Overwrite).parquet(refPath)

  /** One micro-batch: overwrite this batch's counts partition, recompute
    * cumulative-vs-reference KL, overwrite this batch's metrics row, mark
    * committed. Idempotent per (root, batchId).
    */
  def processBatch(batch: DataFrame, batchId: Long, textCol: String,
      refPath: String, root: String): Unit =
    BatchCommit.monitorBatch(batch, batchId, root, "counts", "metrics")(
      Drift.tokenCounts(_, textCol, "cnt"),
      _.groupBy("w").agg(sum("cnt").as("cc")),
      Drift.tokenKlFromCounts(batch.sparkSession.read.parquet(refPath), _))

  /** Start the monitor: one metrics row per non-empty micro-batch under
    * `root/metrics/` (read with `spark.read.parquet`; `batch_id` marks
    * which prefix of the stream each row summarizes — the latest row is
    * the current drift state). The reference at `refPath` must exist
    * ([[initReference]]).
    */
  def monitorStream(docs: DataFrame, textCol: String, refPath: String,
      root: String, checkpointDir: String): StreamingQuery =
    BatchCommit.start(docs, checkpointDir)(
      processBatch(_, _, textCol, refPath, root))
}
