package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Burst

/** Streaming burst monitor — [[DriftMonitor]]'s sibling on the time
  * axis: events arrive as a stream, each micro-batch folds its
  * (key, day) counts into a persisted counts table, and the burst
  * report over the CUMULATIVE counts is recomputed per batch — so a
  * flooding source is flagged in the batch that delivers it, not at
  * the nightly audit. Same sufficient-statistic argument as the drift
  * twin: daily counts are exactly additive across any batch
  * partitioning, so the per-batch report provably equals
  * [[Burst.dailyBursts]] over everything ingested so far
  * (batch-boundary-invariant, spec-pinned), and the already-ingested
  * event stream is never rescanned — per batch the work is O(batch)
  * counting plus a day-granular window pass.
  *
  * Crash semantics: [[BatchCommit.monitorBatch]], as for
  * [[DriftMonitor]] — per-batch OVERWRITE directories for counts
  * (`counts/batch=b/`) and the report (`bursts/batch=b/`), so
  * uncommitted replays replace instead of double-count.
  */
object BurstMonitor {

  /** One micro-batch: fold counts, recompute the cumulative burst
    * report, mark committed. Idempotent per (root, batchId).
    */
  def processBatch(batch: DataFrame, batchId: Long, keyCol: String,
      tsCol: String, root: String, trailing: Int = 7, minWindow: Int = 3,
      zThreshold: Double = 2.0): Unit =
    BatchCommit.monitorBatch(batch, batchId, root, "counts", "bursts")(
      _.groupBy(col(keyCol), col(tsCol).cast("date").as("day"))
        .agg(count(lit(1)).as("cnt")),
      _.groupBy(keyCol, "day").agg(sum("cnt").as("n")),
      Burst.burstsFromDailyCounts(_, keyCol, trailing, minWindow,
        zThreshold))

  /** Start the monitor: the burst report as of batch b lives under
    * `root/bursts/batch=b/`; the max batch_id partition is the current
    * state.
    */
  def monitorStream(events: DataFrame, keyCol: String, tsCol: String,
      root: String, checkpointDir: String, trailing: Int = 7,
      minWindow: Int = 3, zThreshold: Double = 2.0): StreamingQuery =
    BatchCommit.start(events, checkpointDir)(
      processBatch(_, _, keyCol, tsCol, root, trailing, minWindow,
        zThreshold))
}
