package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming EMBEDDING-drift monitor — the vector member of the monitor
  * family (DriftMonitor = token KL, BurstMonitor = time, this = the
  * embedding space), closing the gap where `Drift.embeddingDrift` (p80)
  * stopped at batch: catch the retrained embedder or corrupted encoder
  * shard WHILE its vectors are landing, not at the post-hoc audit.
  *
  * The persisted state is the drift statistic's SUFFICIENT FORM: per
  * dimension (n, Σx, Σx²) — O(dims) rows per batch, mergeable by plain
  * addition, so each batch costs one pass over ITS vectors plus a
  * dims-sized rollup; the already-ingested stream is never rescanned.
  * The per-batch metrics row reports, per dim, the cumulative
  * candidate's mean/variance against the frozen reference and the
  * pooled-variance standardized mean difference — the same 6dp-rounded
  * formula (and the same ulp-symmetric n·(μ·μ) variance form) as the
  * batch operator, so stream state and p80 agree at the reported
  * precision (spec-pinned under different trigger sizes).
  *
  * Crash semantics: [[BatchCommit.monitorBatch]], as for
  * [[DriftMonitor]] — `stats/batch=b/` and `metrics/batch=b/` are
  * OVERWRITTEN, so replays of the crash window replace their own
  * directories instead of double-counting.
  */
object EmbedDriftMonitor {

  /** Per-dim (dim, n, s, ss) sufficient statistics of a vector slice. */
  private[graft] def dimStats(df: DataFrame, embCol: String): DataFrame =
    df.select(posexplode(col(embCol).cast("array<double>"))
        .as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("x").as("s"),
        sum(col("x") * col("x")).as("ss"))

  /** Freeze the reference slice's per-dim statistics. Overwrites. */
  def initReference(ref: DataFrame, embCol: String, refPath: String): Unit =
    dimStats(ref, embCol).write.mode(SaveMode.Overwrite).parquet(refPath)

  /** mean/var/smd report from two stats tables — the single formula
    * path: variance uses the ulp-symmetric (ss − n·(μ·μ))/(n−1) form
    * the batch operator's covariance diagonal uses.
    */
  private def report(refStats: DataFrame, candStats: DataFrame): DataFrame = {
    def mv(df: DataFrame, tag: String) = df.select(col("dim"),
      (col("s") / col("n")).as(s"mean_$tag"),
      when(col("n") > 1,
        (col("ss") - col("n") * ((col("s") / col("n")) *
          (col("s") / col("n")))) / (col("n") - 1))
        .as(s"var_$tag"))
    val pooled = (col("var_ref") + col("var_cand")) / 2.0
    mv(refStats, "ref").join(mv(candStats, "cand"), "dim")
      .select(col("dim").cast("long").as("dim"),
        round(col("mean_ref"), 6).as("mean_ref"),
        round(col("mean_cand"), 6).as("mean_cand"),
        round(col("var_ref"), 6).as("var_ref"),
        round(col("var_cand"), 6).as("var_cand"),
        when(pooled > 0,
          round((col("mean_cand") - col("mean_ref")) / sqrt(pooled), 6))
          .as("smd"))
  }

  /** One micro-batch: overwrite this batch's stats partition, recompute
    * the cumulative-vs-reference report, overwrite this batch's metrics
    * rows, mark committed. Idempotent per (root, batchId).
    */
  def processBatch(batch: DataFrame, batchId: Long, embCol: String,
      refPath: String, root: String): Unit =
    BatchCommit.monitorBatch(batch, batchId, root, "stats", "metrics")(
      dimStats(_, embCol),
      _.groupBy("dim")
        .agg(sum("n").as("n"), sum("s").as("s"), sum("ss").as("ss")),
      report(batch.sparkSession.read.parquet(refPath), _))

  /** Start the monitor: per-dim metrics rows per non-empty micro-batch
    * under `root/metrics/`; the highest `batch_id` is the current drift
    * state. The reference at `refPath` must exist ([[initReference]]).
    */
  def monitorStream(vecs: DataFrame, embCol: String, refPath: String,
      root: String, checkpointDir: String): StreamingQuery =
    BatchCommit.start(vecs, checkpointDir)(
      processBatch(_, _, embCol, refPath, root))
}
