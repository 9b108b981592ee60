package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.sources.FsMeta

/** foreachBatch + MERGE — the streaming-upsert sink pattern: each
  * micro-batch folds its rows into a keyed "latest state per key"
  * parquet table.
  *
  * Exactly-once over an at-least-once source comes from two choices:
  *
  *  1. The merge is a COMMUTATIVE, IDEMPOTENT fold — latest-per-key by
  *     (ts, event_id), computed with the engine's TopKPerGroup physical
  *     operator over (current ∪ batch). Replayed or reordered batches
  *     cannot double-apply: folding the same rows twice is a no-op, and
  *     no batch ordering can replace a newer row with an older one
  *     (unlike blind MERGE UPDATE-by-key).
  *  2. Publication is the reference's tmp→rename commit lifted to table
  *     granularity: batch b writes a full new version directory
  *     `<table>/v<b>`, then atomically republishes the one-line
  *     `<table>/MANIFEST` to point at it. A crash between the two
  *     leaves the previous version visible (never a torn table); a
  *     replay after publish short-circuits on the manifest.
  *
  * All manifest/GC metadata goes through [[FsMeta]] (Hadoop FileSystem),
  * so the sink runs against any Spark-reachable store: on HDFS and local
  * disk the publish rename is atomic; on object stores it is copy+delete
  * and the manifest CRC is what turns a torn publish into a loud reader
  * error instead of a silently-followed mangled pointer.
  *
  * Scale: the fold shuffles one row per (key × input partition) thanks
  * to TopKPerGroup's map-side partials; the version write is
  * table-sized — at 100 TB the same pattern writes only changed
  * PARTITIONS per version (hive-style partition dirs + a manifest per
  * partition), which this models at fixture granularity.
  */
object MergeSink {

  private val stateCols = Seq("user_id", "event_id", "ts", "event_type", "value")

  private def latestPerKey(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.plans.TopKPerGroup.topK(df.select(stateCols.map(col): _*),
      Seq("user_id"), Seq(col("ts").desc, col("event_id").desc), 1)
  }

  private def manifestPath(tableDir: String) = s"$tableDir/MANIFEST"

  private def crc32Hex(s: String): String = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    f"${c.getValue}%08x"
  }

  /** Manifest payload: `v<b> <crc32-of-"v<b>">`. The atomic rename already
    * makes the publish all-or-nothing on HDFS/POSIX; the checksum makes a
    * TORN publish detectable on stores where rename is not atomic (object
    * stores, some NFS) and catches on-disk corruption — a reader never
    * silently follows a mangled version pointer.
    */
  private def manifestLine(version: String): String =
    s"$version ${crc32Hex(version)}"

  /** The published version name ("v<b>"), if any batch has committed.
    * Accepts both the checksummed `v<b> <crc>` form and the legacy bare
    * `v<b>` form (manifests written before checksumming existed) — a
    * legacy manifest is upgraded in place by the next publish. Throws
    * IllegalStateException on a torn or corrupted manifest — the
    * previous version dirs are still on disk (GC keeps current+previous),
    * so an operator can repair by re-pointing the manifest rather than
    * the reader silently treating the table as empty.
    */
  def currentVersion(tableDir: String): Option[String] = {
    val m = manifestPath(tableDir)
    if (!FsMeta.exists(m)) None
    else FsMeta.readString(m).trim.split("\\s+") match {
      case Array(v, sum) if v.matches("v\\d+") && sum == crc32Hex(v) => Some(v)
      case Array(v) if v.matches("v\\d+") => Some(v) // legacy pre-CRC form
      case other => throw new IllegalStateException(
        s"torn/corrupted MANIFEST at $m: ${other.mkString(" ")}")
    }
  }

  /** The current table as of the last committed version. */
  def readCurrent(spark: SparkSession, tableDir: String): Option[DataFrame] =
    currentVersion(tableDir).map(v => spark.read.parquet(s"$tableDir/$v"))

  /** Time-travel read of a RETAINED version ("v<b>") — the previous
    * version survives GC as the reader grace window (longer with
    * `gcGraceMs`), so "what did the table say before this publish"
    * stays answerable for exactly the window the deployment configured.
    * Returns None for versions GC already reclaimed (or never published);
    * listVersions() enumerates what is still on disk.
    */
  def readVersion(spark: SparkSession, tableDir: String,
      version: String): Option[DataFrame] = {
    require(version.matches("v\\d+"), s"bad version name: $version")
    val d = s"$tableDir/$version"
    if (FsMeta.isDirectory(d)) Some(spark.read.parquet(d)) else None
  }

  /** Version dirs still on disk, oldest first. */
  def listVersions(tableDir: String): Seq[String] =
    FsMeta.listSubdirs(tableDir).filter(_.matches("v\\d+"))
      .sortBy(_.drop(1).toLong)

  /** Apply one micro-batch: fold latest-per-key into the current table,
    * write version v<batchId>, atomically publish the manifest.
    * Idempotent — safe to call again with the same (batch, batchId).
    *
    * CONCURRENT-READER CONTRACT: a reader resolves the manifest once,
    * then scans `<table>/<version>`. GC keeps the just-published version
    * plus the immediately-previous one, so a reader is safe as long as
    * its scan finishes before the SECOND publish after it resolved the
    * manifest. A reader slower than two publish intervals (or one that
    * resolved a manifest two publishes ago) can have its version dir
    * deleted mid-scan. `gcGraceMs` adds an age floor for that case:
    * version dirs modified within the window are never deleted, so the
    * grace bounds reader latency by wall-clock instead of publish
    * cadence. Fixture-scale default is 0 (publish-cadence grace only);
    * a production deployment should set it to its slowest-reader bound.
    */
  def upsertBatch(batch: DataFrame, tableDir: String, batchId: Long,
      gcGraceMs: Long = 0L): Unit = {
    val prev = currentVersion(tableDir)
    if (prev.contains(s"v$batchId")) return // replayed after publish
    val spark = batch.sparkSession
    val latest = latestPerKey(batch)
    val merged = readCurrent(spark, tableDir) match {
      case Some(cur) => latestPerKey(cur.unionByName(latest))
      case None => latest
    }
    merged.write.mode("overwrite").parquet(s"$tableDir/v$batchId")
    // tmp→rename publish: readers see the old version or the new one,
    // never a partial manifest (mr/coordinator.go:37-53's protocol;
    // rename atomicity per store documented on FsMeta)
    FsMeta.publishAtomic(s"$tableDir/.MANIFEST.v$batchId.tmp",
      manifestPath(tableDir), manifestLine(s"v$batchId"))
    // GC: superseded version dirs would otherwise accumulate one full
    // table copy per micro-batch for the stream's lifetime. Keep the
    // just-published version plus the immediately-previous one (and
    // anything younger than the grace window); delete everything older
    // (including orphans left by replays that crashed before publishing).
    gcVersions(tableDir, keep = Set(s"v$batchId") ++ prev, gcGraceMs)
  }

  private def gcVersions(tableDir: String, keep: Set[String],
      graceMs: Long): Unit = {
    val cutoff = System.currentTimeMillis() - graceMs
    FsMeta.listSubdirs(tableDir)
      .filter(n => n.matches("v\\d+") && !keep.contains(n))
      .map(n => s"$tableDir/$n")
      .filter(d => FsMeta.modificationTime(d) < cutoff)
      .foreach(FsMeta.deleteRecursive)
  }

  /** Start the streaming query: events stream → foreachBatch upsert (the
    * manifest replay check in [[upsertBatch]] is this sink's commit, not
    * [[BatchCommit]]'s marker).
    */
  def latestPerUserSink(events: DataFrame, tableDir: String,
      checkpointDir: String): StreamingQuery = {
    FsMeta.mkdirs(tableDir)
    BatchCommit.start(events, checkpointDir)(upsertBatch(_, tableDir, _))
  }
}
