package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** COPY-ON-WRITE row-level operations on the manifest-committed table —
  * MERGE (upsert) and DELETE that rewrite O(affected files), not
  * O(table): the Delta/Iceberg copy-on-write shape, built from the
  * repo's own parts (zone maps find the affected files, the `files`
  * read option reads exactly those, MergeUpsert supplies the row
  * semantics, commitReplace swaps file references atomically).
  *
  * Protocol, per operation:
  *   1. AFFECTED SET: the manifest's per-file zone maps on the key
  *      column ([lo, hi], exact integer strings) join against the
  *      DISTINCT operation keys — a file is affected iff some key lands
  *      in its range (files without key stats are conservatively
  *      affected). The ranges table is O(files) driver metadata,
  *      broadcast; the range join is key-rows × files worst case, with
  *      the usual interval-index upgrade path when both are huge.
  *   2. REWRITE: ONLY affected files are read (the `files` scan option —
  *      pruning by construction, not by filter), merged/filtered, and
  *      staged through the connector's own write path into a private
  *      stage table; staged data files then MOVE (O(1) renames) into
  *      the live data directory under their collision-free names.
  *   3. COMMIT: one manifest publish drops the affected entries and adds
  *      the staged ones; untouched files carry over by reference —
  *      never opened, never moved. Crash before the publish leaves only
  *      unlisted (invisible) files for vacuum; the previous version
  *      remains time-travelable (CowSpec pins both).
  *
  * At 100 TB the bill is proportional to the rows you touch IF the
  * layout cooperates: a key-clustered table (ClusteredWrite / the
  * compact-then-cluster pattern) localizes any key set to few files,
  * while a random layout degrades to table-rewrite — the same
  * layout-as-contract story as q85/q87, here for writes.
  *
  * Keys must be integral (int/long) and non-null: zone-map strings for
  * integral columns are exact at any magnitude, while double stats
  * could round an interval inward and wrongly skip a file.
  */
object CowOps {

  final case class CowResult(version: Long, filesRewritten: Int,
      filesUntouched: Int, filesAdded: Int)

  private val Fmt = "graft.sources.ManifestTable"

  /** Test seam: runs right before each commitReplace attempt (after the
    * rewrite is staged), so a spec can interleave a competing commit
    * deterministically. No-op in production.
    */
  private[graft] var beforeCommitHook: () => Unit = () => ()

  /** Optimistic-concurrency driver for merge/delete: run `body` against
    * the current manifest; when the commit loses the version CAS
    * ([[ManifestTable.ConcurrentCommitException]]), delete the attempt's
    * adopted-but-unreferenced files and RECOMPUTE against the new
    * current version — the affected set, the rewrite, everything (the
    * winner may have touched the same files). Bounded attempts: under
    * genuine write contention a table needs a coordinator, not an
    * unbounded spin.
    */
  private[sources] def withCommitRetry[T](dir: String, ref: String = "")(
      body: ManifestTable.Manifest => T): T = {
    val maxAttempts = 3
    var last: ManifestTable.ConcurrentCommitException = null
    var attempt = 0
    while (attempt < maxAttempts) {
      val m = ManifestTable.readManifest(dir, ref).getOrElse(
        throw new IllegalArgumentException(
          if (ref.isEmpty) s"no committed manifest at $dir"
          else s"no branch '$ref' at $dir — createBranch first"))
      try return body(m)
      catch { case e: ManifestTable.ConcurrentCommitException =>
        last = e; attempt += 1
      }
    }
    throw last
  }

  /** Commit `added` replacing `affected` against `version`, cleaning up
    * what this attempt wrote if the commit loses the CAS: the new data
    * files (entries not already in `affected` — a deletion-vectored
    * entry keeps its name) and the `sidecars`. They are unreferenced;
    * deleting keeps the data dir free of loser debris rather than
    * waiting on vacuum.
    */
  private[sources] def commitOrCleanup(dir: String, version: Long,
      affected: Set[String], added: Seq[ManifestTable.FileEntry],
      ref: String, op: String, sidecars: Seq[String] = Nil): Long = {
    beforeCommitHook()
    try ManifestTable.commitReplace(dir, version, affected, added, ref, op)
    catch { case e: ManifestTable.ConcurrentCommitException =>
      (added.map(_.name).filterNot(affected) ++ sidecars)
        .foreach(n => FsMeta.deleteRecursive(s"$dir/data/$n"))
      throw e
    }
  }

  /** Chain fresh position-vector refs (file name -> (sidecar, count)
    * pairs) onto their manifest entries — the one step every
    * merge-on-read commit takes. Once a file's chain would exceed
    * [[ManifestTable.DvPosChainMax]] members it folds into one sidecar:
    * a per-FILE bounded read (positions per file <= rows per file),
    * never proportional to the operation's total deleted rows. Returns
    * the updated entries and every sidecar the commit is responsible
    * for (the fresh refs plus fold successors), for
    * [[commitOrCleanup]] to delete if the CAS loses.
    */
  private[sources] def chainDvs(dir: String,
      entries: Seq[ManifestTable.FileEntry],
      refs: Map[String, Seq[(String, Long)]])
      : (Seq[ManifestTable.FileEntry], Seq[String]) = {
    val owned = scala.collection.mutable.ListBuffer.empty[String]
    owned ++= refs.values.flatten.map(_._1)
    val updated = entries.map { f =>
      val prior = f.stats.dv.map(_.count).getOrElse(0L)
      val fresh = refs(f.name)
      val chain = f.stats.dv.toSeq.flatMap(_.names) ++ fresh.map(_._1)
      val dv =
        if (chain.size <= ManifestTable.DvPosChainMax)
          DvChain(chain, prior + fresh.map(_._2).sum)
        else {
          // fold: this commit's own partials become garbage at once
          // (prior members stay — earlier versions reference them;
          // vacuum reclaims once those expire)
          val conf = FsMeta.hadoopConf()
          val merged = chain.toArray.flatMap(n =>
            ManifestTable.readDv(conf, s"$dir/data/$n")).distinct
          val name = ManifestTable.writeDv(conf, dir, merged)
          owned += name
          fresh.map(_._1).foreach(n => FsMeta.deleteRecursive(s"$dir/data/$n"))
          DvChain(Seq(name), merged.length.toLong)
        }
      f.copy(stats = f.stats.copy(dv = Some(dv)))
    }
    (updated, owned.toSeq)
  }

  private def requireIntegralKey(df: DataFrame, keyCol: String): Unit = {
    val dt = df.schema(keyCol).dataType
    require(dt == LongType || dt == IntegerType,
      s"copy-on-write key '$keyCol' must be integral, got ${dt.sql}")
  }

  /** The TABLE side of the key contract — validated upfront in both
    * merge and delete: on a double-keyed table the files carry double
    * zone-map stats and affectedFiles' lo.toLong would otherwise throw
    * NumberFormatException mid-operation (merge happened to be fenced
    * by checkSchema; delete, whose keys frame shares only the key
    * column, was not).
    */
  private def requireTableKey(m: ManifestTable.Manifest,
      keyCol: String): Unit = {
    require(m.schema.fieldNames.contains(keyCol),
      s"table has no column '$keyCol' (schema ${m.schema.toDDL})")
    val dt = m.schema(keyCol).dataType
    require(dt == LongType || dt == IntegerType,
      s"table key '$keyCol' must be integral, got ${dt.sql}")
  }

  /** Names of manifest files some key could live in (see step 1). When a
    * file carries a bloom on the key column (q90's
    * `.option("bloomColumns", keyCol)` at write time), its definite-miss
    * test is ANDed into the range check through the codegen'd
    * BloomMightContain probe — on a hash-scattered layout, where every
    * file's range spans the table and zone maps alone would rewrite
    * everything, the bloom cuts the affected set back to the files that
    * could actually hold a key (CowSpec pins it).
    */
  private def affectedFiles(spark: SparkSession,
      m: ManifestTable.Manifest, keys: DataFrame,
      keyCol: String): Seq[String] = {
    import spark.implicits._
    // sharded table: one tiny agg collects the KEY ENVELOPE [min, max]
    // and only shards whose merged zone map intersects it decode — the
    // ranges table below is then O(candidate files), not O(census).
    // Conservative by construction: shards/files without the key's
    // stats always survive the keep (and land in `statless` below).
    val census: Seq[ManifestTable.FileEntry] =
      if (m.shards.isEmpty) m.files
      else {
        val env = keys.agg(
          org.apache.spark.sql.functions.min(col(keyCol).cast("long")),
          org.apache.spark.sql.functions.max(col(keyCol).cast("long")))
          .head()
        if (env.isNullAt(0)) m.files // empty key set: keep old semantics
        else ManifestTable.planFiles(m, GTabSkip.keep(_,
          Seq(org.apache.spark.sql.sources
              .GreaterThanOrEqual(keyCol, env.getLong(0)),
            org.apache.spark.sql.sources
              .LessThanOrEqual(keyCol, env.getLong(1))), m.schema))
      }
    val (statted, statless) =
      census.partition(_.stats.zones.contains(keyCol))
    val hit = if (statted.isEmpty) Seq.empty[String] else {
      val ranges = statted.map { f =>
        val z = f.stats.zones(keyCol)
        (f.name, z.lo.toLong, z.hi.toLong, f.stats.blooms.get(keyCol)
          .map(b => GTabBloom.decode(b.words)).orNull)
      }.toDF("name", "lo", "hi", "bloom")
      val inBloom = col("bloom").isNull ||
        graft.operators.BloomPrune.mightContain(col("bloom"), col("k"),
          GTabBloom.NumHashes)
      keys.select(col(keyCol).cast("long").as("k")).distinct()
        .join(broadcast(ranges),
          col("k") >= col("lo") && col("k") <= col("hi") && inBloom)
        .select("name").distinct().as[String].collect().toSeq
    }
    hit ++ statless.map(_.name)
  }

  private def readOnly(spark: SparkSession, dir: String,
      names: Seq[String], schema: org.apache.spark.sql.types.StructType,
      ref: String = "") =
    if (names.isEmpty)
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    else {
      val r = spark.read.format(Fmt).option("path", dir)
        .option("files", names.mkString(","))
      (if (ref.isEmpty) r else r.option("branch", ref)).load()
    }

  /** The columns whose files carry blooms and those whose files carry
    * NDV sketches, recovered from the stats the writers already
    * persist. Rewrites pass them to the staged write so a COW
    * merge/delete or a compaction does not silently strip the skipping
    * structures or the optimizer statistics: correctness would survive
    * (a missing bloom is conservative), but q90 point-lookup skipping,
    * COW's own bloom-localized affected set and join reordering would
    * degrade permanently after the first rewrite. Only columns still in
    * the live schema count (a rename/drop may have retired the name).
    */
  private[graft] def censusColumns(m: ManifestTable.Manifest)
      : (Seq[String], Seq[String]) = {
    // census shards carry their members' column names — zero decodes;
    // a pre-census shard has none, so the table decodes
    def cols(ofFile: FileStats => Iterable[String],
        ofShard: ManifestTable.ShardRef => Option[Seq[String]]) = {
      val (entries, shardCols) =
        if (m.shards.forall(ofShard(_).isDefined))
          (m.inline, m.shards.flatMap(ofShard(_).get))
        else (m.files, Nil)
      (entries.flatMap(e => ofFile(e.stats)) ++ shardCols)
        .filter(m.schema.fieldNames.contains).distinct.sorted
    }
    (cols(_.blooms.keys, _.bloomCols), cols(_.ndvs.keys, _.ndvCols))
  }

  /** Shape a rewrite/insert row set before staging: range-partitioned
    * and sorted on the key into at most `nFiles` files. Without this,
    * staged output inherits the JOIN's shuffle partitioning — a 2-file
    * COW delete under `spark.sql.shuffle.partitions = 200` would stage
    * up to 200 fragments of scattered key ranges, exploding the file
    * count AND destroying the zone-map prunability the clustered write
    * paid for (the same silent regression layout-preserving compaction
    * fixes, here on the row-level-op path).
    */
  private def reclustered(rows: DataFrame, keyCol: String,
      nFiles: Int): DataFrame =
    rows.repartitionByRange(math.max(1, nFiles), col(keyCol))
      .sortWithinPartitions(keyCol)

  /** The skipping/statistics configuration a REWRITE must apply — bloom
    * and NDV columns: the union of what the files already carry
    * ([[censusColumns]] — a rewrite never strips structures) and what
    * the catalog DECLARES in `_TBLMETA` (TBLPROPERTIES). The union is
    * the ADOPTION path: a property SET after the data landed reaches
    * existing files exactly here — at their next compaction / COW / MOR
    * rewrite — closing the chicken-and-egg a file-derived-only config
    * would have (no file carries the bloom yet, so no rewrite would ever
    * add it). Only live-schema columns count.
    */
  private[sources] def effectiveSkipConfig(dir: String,
      m: ManifestTable.Manifest): (Seq[String], Seq[String]) = {
    val props = TblMeta.properties(dir)
    val (blooms, ndvs) = censusColumns(m)
    def cols(census: Seq[String], prop: String): Seq[String] =
      (census ++ props.get(prop).toSeq
        .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)))
        .distinct.sorted.filter(m.schema.fieldNames.contains)
    (cols(blooms, GTabProps.BloomColumns), cols(ndvs, GTabProps.NdvColumns))
  }

  /** [[effectiveSkipConfig]] as the write options of a rewrite. */
  private[sources] def skipOptions(dir: String,
      m: ManifestTable.Manifest): Map[String, String] = {
    val (bloomCols, ndvCols) = effectiveSkipConfig(dir, m)
    Map("bloomColumns" -> bloomCols, "ndvColumns" -> ndvCols).collect {
      case (k, cs) if cs.nonEmpty => k -> cs.mkString(",")
    }
  }

  /** Stage `rows` through the connector, adopt the staged data files
    * into `dir`, and return their manifest entries (step 2). In the
    * no-rename commit mode ([[FsMeta.noRenameCommits]]) the staged
    * write carries `dataDir = dir`, so data files are BORN in the live
    * data directory under their collision-free write-once names —
    * invisible until the caller's manifest publish lists them — and
    * adoption is pure bookkeeping: zero renames, zero copies, the
    * manifest CAS is the only publish point.
    */
  private[sources] def stageAndAdopt(spark: SparkSession, dir: String,
      rows: DataFrame, m: ManifestTable.Manifest)
      : Seq[ManifestTable.FileEntry] = {
    val stage = s"$dir/_cow-stage-${java.util.UUID.randomUUID}"
    val noRename = FsMeta.noRenameCommits
    val w0 = rows.write.format(Fmt).option("path", stage)
      .options(skipOptions(dir, m))
    val w1 = if (noRename) w0.option("dataDir", dir) else w0
    // partitioned table: staged rewrites keep the `#part:` layout (the
    // bloom-preservation move) — otherwise one COW merge/delete would
    // silently turn the storage-partitioned-join report off for good
    val pcols = ManifestTable.partitionColumnsOf(m)
    val w = if (pcols.isEmpty) w1
      else w1.option("partitionColumn", pcols.mkString(","))
    w.mode(SaveMode.Append).save()
    // empty partitions stage 0-row files — drop them instead of adopting
    // stat-less dead weight into the manifest
    val staged = ManifestTable.readManifest(stage).get.files
    val (entries, zeros) = staged.partition(_.rows > 0)
    if (noRename)
      // files already live at $dir/data under their final names;
      // 0-row leftovers are deleted where they were born
      zeros.foreach(e => FsMeta.deleteRecursive(s"$dir/data/${e.name}"))
    else entries.foreach { e =>
      if (!FsMeta.renameIfAbsent(s"$stage/data/${e.name}",
          s"$dir/data/${e.name}"))
        throw new IllegalStateException(
          s"staged file ${e.name} collides with an existing data file")
    }
    FsMeta.deleteRecursive(stage)
    entries
  }

  private def checkSchema(m: ManifestTable.Manifest, df: DataFrame,
      what: String): Unit =
    require(df.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        m.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"$what schema ${df.schema.toDDL} must match table ${m.schema.toDDL}")

  /** MERGE (upsert): rows of `updates` replace same-key rows (whole-row
    * semantics — MergeUpsert's contract) and new keys insert; every row
    * in an UNAFFECTED file is byte-untouched. Single-writer discipline
    * per table applies (every publish's contract).
    */
  def merge(spark: SparkSession, dir: String, updates: DataFrame,
      keyCol: String, branch: String = ""): CowResult =
    withCommitRetry(dir, branch) { m =>
    checkSchema(m, updates, "updates")
    requireIntegralKey(updates, keyCol)
    requireTableKey(m, keyCol)
    val affected = affectedFiles(spark, m, updates, keyCol)
    val merged = graft.operators.MergeUpsert.merge(
      readOnly(spark, dir, affected, m.schema, branch)
        .select(m.schema.fieldNames.map(col).toSeq: _*),
      updates.select(m.schema.fieldNames.map(col).toSeq: _*),
      Seq(keyCol))
    val added = stageAndAdopt(spark, dir,
      reclustered(merged, keyCol, math.max(1, affected.size)), m)
    val v = commitOrCleanup(dir, m.version, affected.toSet, added, branch,
      "cow-merge")
    CowResult(v, affected.size, m.files.size - affected.size, added.size)
  }

  /** Position vectors for the rows of the `names` files whose key is in
    * `keys`: the files are read through their current vectors with the
    * `_file`/`_pos` metadata columns, semi-joined with the distinct keys
    * (the broadcast join [[delete]] uses), and each task writes one
    * sorted-ordinal sidecar per file it saw. Only (file, sidecar,
    * count) refs reach the driver, never positions. A row already
    * deleted is never read, so fresh sidecars are disjoint from a
    * file's chain.
    */
  private def deleteVectors(spark: SparkSession, dir: String,
      m: ManifestTable.Manifest, names: Seq[String], keys: DataFrame,
      keyCol: String, ref: String): Map[String, Seq[(String, Long)]] = {
    import spark.implicits._
    if (names.isEmpty) return Map.empty
    val confMap = FsMeta.confAsMap()
    readOnly(spark, dir, names, m.schema, ref)
      .select(col(ManifestTable.FileMetaCol), col(ManifestTable.PosMetaCol),
        col(keyCol).cast("long").as("__row_k"))
      .join(broadcast(keys.select(col(keyCol).cast("long").as("__k"))
        .distinct()), col("__row_k") === col("__k"), "left_semi")
      .select(ManifestTable.FileMetaCol, ManifestTable.PosMetaCol)
      .as[(String, Long)]
      .mapPartitions { rows =>
        val byFile = scala.collection.mutable.HashMap.empty[
          String, scala.collection.mutable.ArrayBuilder.ofLong]
        rows.foreach { case (f, pos) =>
          byFile.getOrElseUpdate(f,
            new scala.collection.mutable.ArrayBuilder.ofLong) += pos }
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confMap.foreach { case (k, v) => conf.set(k, v) }
        byFile.toList.map { case (f, b) =>
          val ps = b.result()
          (f.substring(f.lastIndexOf('/') + 1),
            ManifestTable.writeDv(conf, dir, ps), ps.length.toLong)
        }.iterator
      }.collect().toSeq.groupBy(_._1)
      .map { case (f, rs) => f -> rs.map(r => (r._2, r._3)) }
  }

  /** Publish `refs` chained onto their entries ([[chainDvs]]) plus the
    * `inserted` files as one version; nothing to publish, no version.
    */
  private def commitMor(dir: String, m: ManifestTable.Manifest,
      refs: Map[String, Seq[(String, Long)]],
      inserted: Seq[ManifestTable.FileEntry], ref: String,
      op: String): CowResult =
    if (refs.isEmpty && inserted.isEmpty)
      CowResult(m.version, 0, m.files.size, 0)
    else {
      val (updated, sidecars) = chainDvs(dir,
        m.files.filter(f => refs.contains(f.name)), refs)
      val v = commitOrCleanup(dir, m.version, refs.keySet,
        updated ++ inserted, ref, op, sidecars)
      CowResult(v, 0, m.files.size - refs.size, inserted.size)
    }

  /** DELETE, merge-on-read: instead of rewriting the files that hold
    * `keys`, their manifest entries gain POSITION deletion vectors
    * ([[deleteVectors]], chained by [[chainDvs]]); the read path skips
    * the marked rows, and the next [[ManifestTable.compact]] (or any
    * COW rewrite of the file) reads through the merge and materializes
    * the deletes away. ZERO data files are rewritten (the write only
    * reads the affected files, found by zone map plus bloom) — why
    * engines choose MOR when deletes are frequent and small relative to
    * file sizes (Iceberg v2 deletes, Delta deletion vectors). A delete
    * that matches no row publishes no version. Sidecars are
    * manifest-referenced, so vacuum protects them while any retaining
    * snapshot lives, and time-travel readers of pre-delete versions
    * never see them.
    */
  def deleteMor(spark: SparkSession, dir: String, keys: DataFrame,
      keyCol: String, branch: String = ""): CowResult =
    withCommitRetry(dir, branch) { m =>
    requireIntegralKey(keys, keyCol)
    requireTableKey(m, keyCol)
    val refs = deleteVectors(spark, dir, m,
      affectedFiles(spark, m, keys, keyCol), keys, keyCol, branch)
    commitMor(dir, m, refs, Nil, branch, "mor-delete")
  }

  /** MERGE (upsert), merge-on-read: the OLD versions of updated keys
    * are position-vectored as in [[deleteMor]] and the update rows
    * land as NEW files in the SAME commit, so the upsert rewrites ZERO
    * existing data files (Iceberg v2's merge-on-read MERGE shape). Read
    * semantics equal [[merge]] exactly — whole-row replacement + insert
    * (CowSpec pins the equality); the read skips the vectored rows on
    * affected files until compaction materializes them away, the
    * deliberate MOR trade.
    */
  def mergeMor(spark: SparkSession, dir: String, updates: DataFrame,
      keyCol: String, branch: String = ""): CowResult =
    withCommitRetry(dir, branch) { m =>
    checkSchema(m, updates, "updates")
    requireIntegralKey(updates, keyCol)
    requireTableKey(m, keyCol)
    val affected = affectedFiles(spark, m, updates, keyCol)
    val refs = deleteVectors(spark, dir, m, affected, updates, keyCol,
      branch)
    val added = stageAndAdopt(spark, dir,
      reclustered(updates.select(m.schema.fieldNames.map(col).toSeq: _*),
        keyCol, math.max(1, affected.size)), m)
    commitMor(dir, m, refs, added, branch, "mor-merge")
  }

  /** DELETE by key set (the right-to-be-forgotten table primitive —
    * IncrementalDedup's deletion story at the table layer): affected
    * files are rewritten without the keys, files emptied by the delete
    * are dropped (not rewritten as empty), untouched files carry over.
    */
  def delete(spark: SparkSession, dir: String, keys: DataFrame,
      keyCol: String, branch: String = ""): CowResult =
    withCommitRetry(dir, branch) { m =>
    requireIntegralKey(keys, keyCol)
    requireTableKey(m, keyCol)
    val affected = affectedFiles(spark, m, keys, keyCol)
    val kept = readOnly(spark, dir, affected, m.schema, branch)
      .join(broadcast(keys.select(col(keyCol).cast("long").as("__k"))
        .distinct()),
        col(keyCol).cast("long") === col("__k"), "left_anti")
      .select(m.schema.fieldNames.map(col).toSeq: _*)
    val added = if (kept.isEmpty) Seq.empty
      else stageAndAdopt(spark, dir,
        reclustered(kept, keyCol, affected.size), m)
    val v = commitOrCleanup(dir, m.version, affected.toSet, added, branch,
      "cow-delete")
    CowResult(v, affected.size, m.files.size - affected.size, added.size)
  }
}
