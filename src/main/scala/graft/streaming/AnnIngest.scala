package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.AnnIndex

/** Streaming ANN index ingest — the similarity-search twin of
  * [[DedupIngest]], completing the streaming-twin family: embedding
  * vectors arrive as a stream and each micro-batch is folded into the
  * PERSISTED IVF index ([[AnnIndex]]) so queries see it immediately.
  * Assignment is against the STORED centroids — no refit, no corpus
  * rescan (the index contract): per batch the work is O(batch · nlist)
  * distance evaluations plus a partitioned parquet publish, and a
  * stream-folded index is PROBE-FOR-PROBE identical to one built from
  * the same vectors in one batch append (spec-pinned in AnnIngestSpec —
  * assignment is a pure function of (vector, stored centroids), so
  * batch boundaries cannot move a posting).
  *
  * Crash semantics: [[BatchCommit]]'s protocol, the marker under the
  * index dir. The postings are exactly-once rows: [[AnnIndex.appendBatch]]
  * stages and publishes each batch under the tag `b<batchId>`, so a
  * replay of any crash window — mid-stage, mid-publish,
  * published-but-unmarked — converges to the same file set with zero
  * duplicate postings.
  */
object AnnIngest {

  /** One micro-batch: fold the batch's vectors into the index, mark the
    * batch committed. Idempotent per (indexPath, batchId). The index at
    * `indexPath` must exist ([[AnnIndex.buildIndex]] — an IVF index
    * needs fitted centroids before it can accept appends; seed it from
    * a bootstrap corpus or the stream's first materialized batch).
    */
  def processBatch(batch: DataFrame, batchId: Long, idCol: String,
      embCol: String, p: AnnIndex.Params, indexPath: String): Unit =
    BatchCommit.commit(indexPath, batchId) {
      if (batch.isEmpty) false // an empty batch commits nothing
      else {
        AnnIndex.appendBatch(batch, idCol, embCol, p, indexPath, s"b$batchId")
        true
      }
    }

  /** Start the ingest stream: `vectors` must carry (`idCol`, `embCol`).
    * Query the index at any point with [[AnnIndex.topKAgainstIndex]] —
    * probes and ingest share nothing but the files, so they need no
    * coordination beyond parquet's immutable-file visibility.
    */
  def ingestStream(vectors: DataFrame, idCol: String, embCol: String,
      p: AnnIndex.Params, indexPath: String,
      checkpointDir: String): StreamingQuery =
    BatchCommit.start(vectors, checkpointDir)(
      processBatch(_, _, idCol, embCol, p, indexPath))
}
