package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** CDC-driven maintenance for the persisted indexes: apply a change feed
  * ([[graft.sources.ManifestTable.changeFeed]]'s `_change_type` shape —
  * or any frame shaped like it) to a MinHash dedup index (p46) or an
  * IVF ANN index (p58) instead of rebuilding.
  *
  * Semantics per feed: DELETES first (a retention-filtered compaction —
  * the only way rows leave an append-only index), INSERTS second
  * (appendBatch against the stored parameters/centroids, under a fresh
  * tag per call); an UPDATE,
  * which the feed surfaces as a delete+insert pair of the same id, thus
  * lands as drop-old-derived-rows then append-new — exactly an index
  * upsert. With no deletes the append folds IN PLACE and `inPath` is
  * returned; with deletes the maintained index lands at `outPath`
  * (compaction never rewrites its input — the crash-safety contract).
  *
  * At 100 TB this is THE index story: the feed is O(changed files), the
  * append is O(batch), the deletion compaction is O(index) once per
  * maintenance window rather than O(corpus) per rebuild — and
  * IndexLifecycleSpec already proves aged-equals-fresh across arbitrary
  * interleavings of exactly these primitives. The delete set is NEVER
  * driver-bounded: up to [[LiteralDeleteMaxIds]] ids collect as a
  * literal filter (compactIndex — zero-exchange; no bloom build, no
  * drop-set broadcast, one write per table), and anything larger routes
  * to the DISTRIBUTED purge ([[IncrementalDedup.purgeIndex]] /
  * [[AnnIndex.purgeIndex]]: bloom split + exact anti-join, shuffle
  * O(dropset + FPP·index)) — so a corpus-scale takedown feed maintains
  * instead of forcing a rebuild.
  */
object IndexMaintenance {

  /** Tier gate: delete sets up to this size collect to the driver and
    * push as a literal filter; larger sets stay distributed. The literal
    * tier still rewrites every bucket (each holds retained rows, and a
    * negated IN prunes no bucket file); its gain in the operator-request
    * regime is what it skips: the bloom build, the drop-set broadcast
    * and the second (survivors) write per table. The same two-tier shape
    * as the probe's [[IncrementalDedup.MaxProbeKeys]] pruning — literal
    * when trivially small, join when not.
    */
  val LiteralDeleteMaxIds: Int = 1024

  final case class MaintResult(path: String, deleted: Long, inserted: Long,
      distributedPurge: Boolean = false)

  /** The feed's delete-id set, deduped and null-filtered ONCE (both
    * tiers see identical ids — a null id must not crash one tier and
    * silently vanish in the other), PERSISTED so the tier-gate count,
    * the literal tier's collect, and the distributed purge's bloom +
    * anti-join all read the materialized frame instead of re-scanning
    * the feed. Callers unpersist via the returned frame when done.
    */
  private def splitFeed(feed: DataFrame, idCol: String)
      : (DataFrame, Long, DataFrame) = {
    val dels = feed.filter(col("_change_type") === "delete")
      .select(col(idCol).cast("long").as("__drop_id"))
      .filter(col("__drop_id").isNotNull).distinct().persist()
    val nDel = dels.count()
    val ins = feed.filter(col("_change_type") === "insert")
    (dels, nDel, ins)
  }

  /** Apply `feed` (with `idCol` + `textCol` payload) to the MinHash
    * dedup index at `inPath`; the maintained index is at the returned
    * path (`outPath` iff the feed carried deletes). `literalDeleteMaxIds`
    * overrides the literal/distributed delete tier gate (tests).
    */
  def maintainDedupIndex(spark: SparkSession, feed: DataFrame,
      idCol: String, textCol: String, p: IncrementalDedup.Params,
      inPath: String, outPath: String,
      literalDeleteMaxIds: Int = LiteralDeleteMaxIds): MaintResult = {
    val (dels, nDel, ins) = splitFeed(feed, idCol)
    val distributed = nDel > literalDeleteMaxIds
    val path =
      try {
        if (nDel == 0) inPath
        else {
          if (distributed)
            // dels is already splitFeed-normalized AND persisted —
            // the purge's own normalize/persist would re-shuffle and
            // double-cache a potentially corpus-scale id set
            IncrementalDedup.purgeNormalized(spark, inPath, outPath,
              dels, nDel)
          else {
            import spark.implicits._
            IncrementalDedup.compactIndex(spark, inPath, outPath,
              dropIds = dels.as[Long].collect().toSeq)
          }
          outPath
        }
      } finally dels.unpersist()
    val nIns = ins.count()
    if (nIns > 0)
      IncrementalDedup.appendBatch(ins.select(col(idCol), col(textCol)),
        idCol, textCol, p, path, java.util.UUID.randomUUID.toString)
    MaintResult(path, nDel, nIns, distributed)
  }

  /** Apply `feed` (with `idCol` + `embCol` payload) to the IVF index at
    * `inPath` — inserts assign against the STORED centroids (no refit),
    * so the maintained index answers exactly like one built fresh on
    * the same quantizer. `literalDeleteMaxIds` overrides the
    * literal/distributed delete tier gate (tests).
    */
  def maintainAnnIndex(spark: SparkSession, feed: DataFrame,
      idCol: String, embCol: String, p: AnnIndex.Params,
      inPath: String, outPath: String,
      literalDeleteMaxIds: Int = LiteralDeleteMaxIds): MaintResult = {
    val (dels, nDel, ins) = splitFeed(feed, idCol)
    val distributed = nDel > literalDeleteMaxIds
    val path =
      try {
        if (nDel == 0) inPath
        else {
          if (distributed)
            // pre-normalized + persisted by splitFeed, same as the
            // dedup tier — skip the purge's duplicate normalize
            AnnIndex.purgeNormalized(spark, inPath, outPath, dels, nDel)
          else {
            import spark.implicits._
            AnnIndex.compactIndex(spark, inPath, outPath,
              dropIds = dels.as[Long].collect().toSeq)
          }
          outPath
        }
      } finally dels.unpersist()
    val nIns = ins.count()
    if (nIns > 0)
      AnnIndex.appendBatch(ins.select(col(idCol), col(embCol)),
        idCol, embCol, p, path, java.util.UUID.randomUUID.toString)
    MaintResult(path, nDel, nIns, distributed)
  }
}
