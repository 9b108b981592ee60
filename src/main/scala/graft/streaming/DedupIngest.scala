package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.IncrementalDedup

/** Streaming near-dup dedup ingest — the composition a 100 TB pipeline
  * actually runs: documents arrive as a stream, each micro-batch is
  * deduped against the PERSISTED MinHash band index
  * ([[IncrementalDedup]]), survivors land in a clean output table, and
  * the batch is folded into the index so the next batch sees it. The
  * corpus is never rescanned; per batch the work is O(batch) text
  * compute plus bucket-pruned, exchange-free index probes.
  *
  * KEEP RULE (and why it is batch-boundary INVARIANT): a doc is dropped
  * iff it near-dups ANY doc seen before it — where "before" is the id
  * order, and ids are REQUIRED to be monotone with ingest order (the
  * standard ingest contract; p25's contiguous id assignment produces
  * exactly this). Every batch doc appears as the GREATER id (id_b) of
  * its pairs, so drops = {id_b of every pair touching the batch}, and
  * because the WHOLE batch (kept and dropped alike) is appended to the
  * index, the decision for a later doc never depends on where a batch
  * boundary fell: d3 ~ d2 drops d3 whether d2 arrived in the same batch
  * (batch-internal pair) or an earlier one (index pair), even when d2
  * itself was dropped. The result provably equals the batch-global
  * greedy rule "drop every id_b of the full-corpus near-dup pair set" —
  * which is what the spec recomputes with [[graft.operators.Dedup]].
  * (This is the SemDeDup-style drop-against-all-seen policy; keep-one-
  * per-component is the batch [[graft.operators.ConnectedComponents]]
  * path.)
  *
  * CRASH SEMANTICS: [[BatchCommit]]'s protocol, the marker under the
  * index dir. Per artifact:
  *   - KEPT TABLE — effectively exactly-once. Batch b's survivors land in
  *     their own partition directory `kept/batch=b/`, written with
  *     OVERWRITE: a replay of batch b (crash anywhere before the commit
  *     marker) recomputes the same survivor set — drops are a
  *     deterministic function of (batch, index-as-of-b), and a replay
  *     probing an index that already holds the batch only repeats pairs
  *     the probe dedups — and REPLACES the directory instead of
  *     appending next to the first attempt. Readers of `kept/` see a
  *     partial batch directory only between a mid-write crash and the
  *     replay that overwrites it (Spark's _SUCCESS marker distinguishes).
  *   - INDEX — exactly-once rows. [[IncrementalDedup.appendBatch]] stages
  *     and publishes the batch under the tag `b<batchId>`, so a replay of
  *     any crash window — mid-stage, mid-publish, or
  *     published-but-unmarked — converges to the same file set with zero
  *     duplicate index rows (spec-pinned).
  * A table-format transaction would collapse the artifacts into one
  * atomic commit; this protocol gets the same effective result with
  * plain parquet.
  */
object DedupIngest {

  /** Initialize an EMPTY index at `path` (schema-complete, zero rows) so
    * the first streaming batch has something to probe. Overwrites.
    */
  def initEmptyIndex(spark: SparkSession, idCol: String, textCol: String,
      p: IncrementalDedup.Params, path: String): Unit = {
    import org.apache.spark.sql.types._
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField(idCol, LongType),
        StructField(textCol, StringType))))
    IncrementalDedup.buildIndex(empty, idCol, textCol, p, path)
  }

  /** One micro-batch: dedup against the index, OVERWRITE survivors into
    * `keptPath/batch=<batchId>`, fold the WHOLE batch into the index (see
    * object scaladoc for why kept-and-dropped both go in), mark the batch
    * committed. Idempotent per (indexPath, batchId) — see the crash-
    * semantics contract in the object scaladoc.
    */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, p: IncrementalDedup.Params, indexPath: String,
      keptPath: String): Unit =
    BatchCommit.commit(indexPath, batchId) {
      if (batch.isEmpty) false // an empty batch commits nothing
      else {
        batch.persist()
        try {
          val pairs = IncrementalDedup.nearDupsAgainstIndex(
            batch.sparkSession, batch, idCol, textCol, p, indexPath)
          // monotone ids: the batch side of every pair is the greater id
          val drops =
            pairs.select(col("id_b").cast("long").as(idCol)).distinct()
          batch.join(drops, Seq(idCol), "left_anti")
            .write.mode(SaveMode.Overwrite).parquet(s"$keptPath/batch=$batchId")
          // MUST follow nearDupsAgainstIndex (its ordering contract): once
          // the batch is indexed, its rows would sit on both probe sides
          IncrementalDedup.appendBatch(batch, idCol, textCol, p, indexPath,
            s"b$batchId")
          true
        } finally batch.unpersist(): Unit
      }
    }

  /** Start the ingest stream: `docs` must carry (`idCol`, `textCol`)
    * with ids monotone in ingest order. The index at `indexPath` must
    * exist ([[initEmptyIndex]] or a prior [[IncrementalDedup.buildIndex]]).
    * Read the kept table with `spark.read.parquet(keptPath)` — the
    * per-batch directories surface as a `batch` partition column
    * (provenance: which micro-batch admitted each row).
    */
  def ingestStream(docs: DataFrame, idCol: String, textCol: String,
      p: IncrementalDedup.Params, indexPath: String, keptPath: String,
      checkpointDir: String): StreamingQuery =
    BatchCommit.start(docs, checkpointDir)(
      processBatch(_, _, idCol, textCol, p, indexPath, keptPath))
}
