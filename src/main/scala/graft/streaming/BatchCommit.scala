package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.StreamingQuery
import graft.sources.FsMeta

/** The exactly-once micro-batch commit every streaming sink here runs —
  * the reference's tmp→rename task commit (mr/coordinator.go:37-53) at
  * micro-batch granularity, with all metadata via [[FsMeta]] so it runs
  * on any Spark-reachable store.
  *
  * Protocol, per (root, batch b):
  *   1. the sink writes b's output so that a replay REPLACES it instead
  *      of adding beside it: OVERWRITE of b's own `…/batch=<b>/`
  *      directories, or a [[graft.sources.StagedAppend]] publish tagged
  *      `b<b>` (an index append);
  *   2. the marker `root/_commit_<b>` is published LAST — an empty file,
  *      or (for a sink whose next batch resumes from this one's state)
  *      a payload published atomically by tmp→rename;
  *   3. a foreachBatch replay of a batch whose marker exists does
  *      nothing.
  * Every crash window therefore replays to the same files: mid-write
  * (the replay overwrites or re-publishes), written-but-unmarked (the
  * replay rewrites identical output and publishes the marker), marked
  * (no-op). The empty-batch rule is the sink's: `write` may decline to
  * commit.
  */
object BatchCommit {

  private def marker(root: String, batchId: Long) = s"$root/_commit_$batchId"

  /** Run `write` for batch `batchId` unless it already committed under
    * `root`; `write` returns whether to publish the (empty) marker.
    */
  def commit(root: String, batchId: Long)(write: => Boolean): Unit =
    if (!FsMeta.exists(marker(root, batchId)) && write)
      FsMeta.createMarker(marker(root, batchId)): Unit

  /** [[commit]] whose marker carries `write`'s result as its payload,
    * published atomically; read it back with [[payload]].
    */
  def commitWithPayload(root: String, batchId: Long)(write: => String): Unit =
    if (!FsMeta.exists(marker(root, batchId)))
      FsMeta.publishAtomic(s"$root/_commit_tmp_$batchId",
        marker(root, batchId), write)

  /** The payload batch `batchId` committed with. */
  def payload(root: String, batchId: Long): String =
    FsMeta.readString(marker(root, batchId))

  /** The monitors' one step ([[DriftMonitor]], [[BurstMonitor]],
    * [[EmbedDriftMonitor]]): OVERWRITE this batch's sufficient
    * statistics under `root/<statsDir>/batch=<b>`, read back every
    * batch's partition, `fold` them into the cumulative statistic,
    * `report` it, and OVERWRITE `root/<reportDir>/batch=<b>` with a
    * `batch_id` column; then commit. An empty batch commits nothing.
    */
  def monitorBatch(batch: DataFrame, batchId: Long, root: String,
      statsDir: String, reportDir: String)(stats: DataFrame => DataFrame,
      fold: DataFrame => DataFrame, report: DataFrame => DataFrame): Unit =
    commit(root, batchId) {
      if (batch.isEmpty) false
      else {
        stats(batch).write.mode(SaveMode.Overwrite)
          .parquet(s"$root/$statsDir/batch=$batchId")
        report(fold(batch.sparkSession.read.parquet(s"$root/$statsDir")))
          .withColumn("batch_id", lit(batchId))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$root/$reportDir/batch=$batchId")
        true
      }
    }

  /** Start `source` into a foreachBatch sink running `process` per
    * micro-batch, checkpointed at `checkpointDir`.
    */
  def start(source: DataFrame, checkpointDir: String)(
      process: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, bid: Long) => process(batch, bid) }
      .start()
}
