package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DataWriter, DeltaBatchWrite,
  DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory,
  LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation,
  WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.hadoop.conf.Configuration

/** SQL `DELETE` / `UPDATE` / `MERGE INTO` as MERGE-ON-READ — Spark 4's
  * DELTA-BASED row-level operation API (`SupportsDelta`): instead of
  * rewriting every scanned file (the group-based COW shape,
  * [[GTabRowLevelOperation]]), the operation emits a ROW-LEVEL delta —
  * deletes identified by the connector's (`_file`, `_pos`) row ID,
  * inserts as ordinary new files — and the commit attaches POSITION
  * deletion vectors (`#dvp` sidecars, sorted line ordinals) to the
  * affected manifest entries. ZERO existing data files rewrite; the
  * read path subtracts marked ordinals row-level until a compaction
  * materializes the merge away. [[CowOps.deleteMor]] writes the same
  * vectors for a key set; positions identify ANY row, so arbitrary SQL
  * predicates work without a key column.
  *
  * The row ID rides the line-oriented codec's one stable invariant:
  * rows are never reordered in place (deletes are sidecars, rewrites
  * produce NEW files), so the 0-based line ordinal plus the file name
  * is a durable identity. `representUpdateAsDeleteAndInsert` — Spark
  * splits UPDATE/MERGE-update rows into a position delete plus a plain
  * insert, so one writer shape covers all three commands.
  *
  * Strategy selection is per-command via TBLPROPERTIES
  * (`write.delete.mode` / `write.update.mode` / `write.merge.mode` =
  * `merge-on-read`); the default stays copy-on-write. The 100 TB
  * guidance the two strategies encode: COW localizes a sparse MERGE to
  * O(touched files) through runtime group filtering but rewrites them
  * whole — right for clustered tables and occasional wide updates; MOR
  * writes O(changed rows) regardless of layout — right for frequent
  * small upserts and deletes where rewrite amplification dominates.
  * (Spark's runtime group filtering applies only to group-based plans,
  * so a MOR MERGE's scan prunes statically; DELETE/UPDATE predicates
  * are literal and prune files exactly as any read does.)
  *
  * Concurrency is the COW path's verbatim: the scan records the
  * manifest version it planned against, the commit goes through
  * [[ManifestTable.commitReplace]]'s version CAS, and any interleaved
  * commit surfaces the typed conflict instead of merging over stale
  * reasoning.
  */
private[sources] class GTabMorOperation(path: String, cmd: Command)
    extends RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {

  /** Scan-to-commit handshake: the manifest version the scan planned
    * against (snapshot isolation for the commit CAS). Same discipline
    * as [[GTabRowLevelOperation.scanned]].
    */
  @volatile private[sources] var scanned: Option[(Long, Set[String])] = None

  override def command(): Command = cmd
  override def description(): String = s"GTabMorOperation $cmd $path"

  override def rowId()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions.column(
        ManifestTable.FileMetaCol),
      org.apache.spark.sql.connector.expressions.Expressions.column(
        ManifestTable.PosMetaCol))

  /** UPDATE (and MERGE's update action) arrives as delete + insert —
    * one writer shape for all three commands, and the position vector
    * never has to express "replaced in place".
    */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GTabScanBuilder(path, None, None, GTabStreamOpts(None, false), "",
      onPlan = Some((v, names) => scanned = Some((v, names))))

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = {
        ManifestTable.checkSupported(info.schema())
        val m = ManifestTable.readManifest(path).getOrElse(
          throw new IllegalArgumentException(
            s"no committed manifest at $path"))
        // inserted files keep the table's bloom/NDV/partition layout —
        // the same preservation rule as every COW rewrite, declared
        // TBLPROPERTIES unioned in (the adoption path)
        val (bloomCols, ndvCols) =
          CowOps.effectiveSkipConfig(path, m)
        val partCols = ManifestTable.partitionColumnsOf(m)
        new DeltaWrite {
          override def toBatch: DeltaBatchWrite =
            new GTabDeltaBatchWrite(GTabMorOperation.this, path, info,
              bloomCols, partCols, ndvCols)
        }
      }
    }
}

/** One MOR DML commit: executors stream position deletes into per-file
  * ordinal sets, author the `#dvp` sidecars THEMSELVES at task commit
  * (one sorted-ordinal file per (task, data file)), and ship inserts
  * through the connector's normal writer stack. Commit messages carry
  * sidecar REFS only — (file, sidecar name, cardinality) — so the
  * driver's commit handles O(affected files x tasks) names, never the
  * deleted positions themselves (Iceberg's position-delete-file shape:
  * a 1%-of-100TB DELETE ships file names through the driver, not
  * billions of ordinals). Affected manifest entries CHAIN the new refs
  * onto any existing ones, folding past [[ManifestTable.DvPosChainMax]]
  * ([[CowOps.chainDvs]], the step [[CowOps.deleteMor]] shares). One
  * atomic manifest version publishes vectors and inserts together.
  */
private[sources] class GTabDeltaBatchWrite(op: GTabMorOperation,
    path: String, info: LogicalWriteInfo, bloomCols: Seq[String],
    partCols: Seq[String], ndvCols: Seq[String])
    extends DeltaBatchWrite {

  override def createBatchWriterFactory(
      pinfo: PhysicalWriteInfo): DeltaWriterFactory =
    new GTabDeltaWriterFactory(path, info.schema(), info.queryId(),
      FsMeta.confAsMap(), bloomCols, partCols, ndvCols)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val all = messages.collect { case d: GTabDeltaCommit => d }
    val (inserted, empties) =
      all.flatMap(_.inserts).partition(_.rows > 0)
    empties.foreach(e => FsMeta.deleteRecursive(s"$path/data/${e.name}"))
    // refs only: file -> (sidecar name, cardinality) pairs from every task
    val refsByFile: Map[String, Seq[(String, Long)]] = all
      .flatMap(_.deleteRefs).groupBy(_._1)
      .map { case (f, rs) => f -> rs.map(_._2).toSeq }
    GTabDeltaBatchWrite.lastCommitDeleteRefs = refsByFile
    if (refsByFile.isEmpty && inserted.isEmpty) return
    val ver = op.scanned.map(_._1).getOrElse(
      ManifestTable.readManifest(path).map(_.version).getOrElse(0L))
    val cur = ManifestTable.readManifest(path).getOrElse(
      throw new IllegalStateException(s"no committed manifest at $path"))
    val (updated, sidecars) = CowOps.chainDvs(path,
      cur.files.filter(f => refsByFile.contains(f.name)), refsByFile)
    CowOps.commitOrCleanup(path, ver, refsByFile.keySet,
      updated ++ inserted, "", "mor-" + op.command().toString.toLowerCase,
      sidecars)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case d: GTabDeltaCommit => d }.foreach { d =>
      d.inserts.foreach(e => FsMeta.deleteRecursive(s"$path/data/${e.name}"))
      d.deleteRefs.foreach { case (_, (n, _)) =>
        FsMeta.deleteRecursive(s"$path/data/$n") }
    }
}

private[graft] object GTabDeltaBatchWrite {
  /** Test seam: the last commit's delete payload as the driver saw it —
    * refs only. RowLevelSpec pins that a large DELETE's driver-side
    * message volume is O(affected files), not O(deleted rows).
    */
  @volatile private[graft] var lastCommitDeleteRefs:
    Map[String, Seq[(String, Long)]] = Map.empty
}

/** (inserted data files, (file name, (position-sidecar name, count))
  * refs — the positions themselves never ride a commit message).
  */
private[sources] final case class GTabDeltaCommit(
    inserts: Seq[ManifestTable.FileEntry],
    deleteRefs: Seq[(String, (String, Long))])
    extends WriterCommitMessage

private[sources] class GTabDeltaWriterFactory(path: String,
    schema: org.apache.spark.sql.types.StructType, queryId: String,
    confMap: Map[String, String], bloomCols: Seq[String],
    partCols: Seq[String], ndvCols: Seq[String])
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] = {
    val conf = new Configuration(false)
    confMap.foreach { case (k, v) => conf.set(k, v) }
    new GTabDeltaWriter(path, schema,
      s"delta-$queryId-$partitionId-$taskId", conf, bloomCols, partCols,
      ndvCols)
  }
}

/** Executor-side delta writer: deletes accumulate as (file → ordinal
  * buffer) — a few longs per deleted row, no I/O until task commit,
  * memory bounded by the positions THIS task deletes — and inserts
  * stream through the ordinary [[GTabWriters]] stack (unique names,
  * invisible until the manifest lists them). At task commit the writer
  * authors one sorted-ordinal `#dvp` sidecar per touched data file
  * (write-once name, invisible until a manifest chains it) and reports
  * only the (file, sidecar, count) refs. The row-ID rows Spark hands in
  * are REUSED projections: values are extracted immediately, never
  * retained.
  */
private[sources] class GTabDeltaWriter(dir: String,
    schema: org.apache.spark.sql.types.StructType, stem: String,
    conf: Configuration, bloomCols: Seq[String], partCols: Seq[String],
    ndvCols: Seq[String])
    extends DeltaWriter[InternalRow] {

  private var insertWriter: DataWriter[InternalRow] = _
  private val deletes =
    scala.collection.mutable.HashMap.empty[
      String, scala.collection.mutable.ArrayBuffer[Long]]

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    // row ID layout follows rowId(): (_file: string, _pos: long)
    val file = id.getUTF8String(0).toString
    val pos = id.getLong(1)
    val name = file.substring(file.lastIndexOf('/') + 1)
    deletes.getOrElseUpdate(name,
      scala.collection.mutable.ArrayBuffer.empty[Long]) += pos
  }

  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit =
    throw new IllegalStateException(
      "unreachable: updates are split into delete + insert " +
        "(representUpdateAsDeleteAndInsert)")

  override def insert(row: InternalRow): Unit = {
    if (insertWriter == null)
      insertWriter = GTabWriters.create(dir, schema, stem, conf,
        bloomCols, partCols, ndvCols)
    insertWriter.write(row)
  }

  private val wroteSidecars =
    scala.collection.mutable.ListBuffer.empty[String]

  override def commit(): WriterCommitMessage = {
    val ins =
      if (insertWriter == null) Seq.empty[ManifestTable.FileEntry]
      else GTabCommits.entriesOf(Array(insertWriter.commit()))
    val refs = deletes.toSeq.map { case (f, ps) =>
      val name = ManifestTable.writeDv(conf, dir, ps.toArray)
      wroteSidecars += name
      f -> (name, ps.length.toLong)
    }
    GTabDeltaCommit(ins, refs)
  }

  override def abort(): Unit = {
    if (insertWriter != null) insertWriter.abort()
    // a task that wrote sidecars but failed before its commit message
    // was accepted cleans up its own garbage (same conf as the writes)
    wroteSidecars.foreach { n =>
      val hp = new org.apache.hadoop.fs.Path(s"$dir/data/$n")
      hp.getFileSystem(conf).delete(hp, false): Unit
    }
  }
  override def close(): Unit =
    if (insertWriter != null) insertWriter.close()
}
