package graft.sources

import org.apache.spark.sql.connector.distributions.{Distribution,
  Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions,
  SortDirection, SortOrder}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory,
  LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering,
  RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL `UPDATE` / `MERGE INTO` (and non-translatable `DELETE`) on the
  * manifest table — Spark 4's GROUP-BASED row-level operation API
  * (`SupportsRowLevelOperations`), the copy-on-write shape: Spark
  * rewrites the DML into a ReplaceData plan that (1) SCANS the table
  * through this operation's scan, (2) computes the full replacement row
  * set for whatever the scan read (updated + carried-over + inserted
  * rows), and (3) writes it back through this operation's write, whose
  * commit atomically swaps exactly the scanned files for the new ones
  * ([[ManifestTable.commitReplace]] — the same primitive the Scala
  * [[CowOps]] API uses, so SQL DML and programmatic COW share one
  * commit protocol and one concurrency story).
  *
  * The affected set is O(matching files), not O(table), through the
  * SAME pruning the read path already owns: static pushdown prunes on
  * zone maps / blooms / partition values at optimization, and Spark's
  * runtime GROUP FILTERING (RowLevelOperationRuntimeGroupFiltering)
  * executes the MERGE/UPDATE condition's selective side first and
  * pushes the touched values back through SupportsRuntimeV2Filtering —
  * so a MERGE over a key-clustered 100 TB table rewrites only the files
  * whose ranges the source keys hit. The scan records what it finally
  * planned ([[GTabRowLevelOperation.scanned]]); the write replaces
  * exactly that.
  *
  * Concurrency: the commit validates the manifest version the scan
  * planned against (snapshot isolation — any interleaved commit, even a
  * pure append, raises the typed [[ManifestTable.ConcurrentCommitException]]
  * instead of silently merging over stale reasoning). Spark's metadata-
  * only delete rule (OptimizeMetadataOnlyDeleteFromTable) still rewrites
  * translatable DELETEs back to [[GTabDelete]]'s manifest-level path, so
  * adding the row-level surface costs the fast path nothing.
  *
  * Rewritten files preserve the table's bloom configuration and
  * partitioned layout (the [[CowOps.stageAndAdopt]] rule, here via the
  * write's declared distribution); zone-map CLUSTERING of the rewritten
  * files follows the replace-join's partitioning — a later
  * layout-preserving [[ManifestTable.compact]] restores it, the same
  * contract as every COW rewrite.
  */
private[sources] class GTabRowLevelOperation(path: String,
    cmd: Command) extends RowLevelOperation {

  /** Handshake from scan planning to write commit: the manifest version
    * the scan planned against and the file names it finally kept (post
    * static + runtime pruning) — the groups the commit must replace.
    * Set at planInputPartitions (always before any task runs, therefore
    * before the commit); idempotent under AQE's re-planning.
    */
  @volatile private[sources] var scanned: Option[(Long, Set[String])] = None

  override def command(): Command = cmd
  override def description(): String = s"GTabRowLevelOperation $cmd $path"

  /** Declaring `_file` does double duty: (a) useful lineage in the
    * rewrite, and (b) it is what makes Spark's ReplaceData apply its
    * row projection before the writer — the metadata-less group-based
    * path hands the writer rows still carrying the internal
    * `__row_operation` column (verified against 4.1's
    * ReplaceDataExec.writingTask, which projects only when a metadata
    * projection exists).
    */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column(ManifestTable.FileMetaCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder =
    new GTabScanBuilder(path, None, None, GTabStreamOpts(None, false), "",
      onPlan = Some((v, names) => scanned = Some((v, names))))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        ManifestTable.checkSupported(info.schema())
        val m = ManifestTable.readManifest(path).getOrElse(
          throw new IllegalArgumentException(
            s"no committed manifest at $path"))
        // rewritten files keep the table's bloom + partition layout —
        // otherwise the first SQL UPDATE would silently strip the
        // skipping structures a clustered write paid for; declared
        // TBLPROPERTIES union in (the adoption path for SET-after-load)
        val (bloomCols, ndvCols) =
          CowOps.effectiveSkipConfig(path, m)
        val partCols = ManifestTable.partitionColumnsOf(m)
        new Write with RequiresDistributionAndOrdering {
          override def requiredDistribution(): Distribution =
            if (partCols.isEmpty) Distributions.unspecified()
            else Distributions.clustered(
              partCols.map(Expressions.identity).toArray[
                org.apache.spark.sql.connector.expressions.Expression])
          override def requiredOrdering(): Array[SortOrder] =
            partCols.map(c => Expressions.sort(Expressions.identity(c),
              SortDirection.ASCENDING)).toArray
          override def toBatch: BatchWrite =
            new GTabReplaceBatchWrite(GTabRowLevelOperation.this, path,
              info, bloomCols, partCols, ndvCols)
        }
      }
    }
}

/** The REPLACE-GROUPS commit: executors write replacement files through
  * the connector's normal writer stack (unique names, invisible until
  * listed); commit drops the scanned entries and adds the new ones in
  * one atomic manifest publish. Zero-row outputs (a replace whose join
  * emptied a partition) are deleted, not adopted.
  */
private[sources] class GTabReplaceBatchWrite(op: GTabRowLevelOperation,
    path: String, info: LogicalWriteInfo, bloomCols: Seq[String],
    partCols: Seq[String], ndvCols: Seq[String])
    extends BatchWrite {

  override def createBatchWriterFactory(
      pinfo: PhysicalWriteInfo): DataWriterFactory =
    new GTabWriterFactory(path, info.schema(), info.queryId(),
      FsMeta.confAsMap(), bloomCols, partCols, ndvCols)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val all = GTabCommits.entriesOf(messages)
    val (entries, empties) = all.partition(_.rows > 0)
    empties.foreach(e => FsMeta.deleteRecursive(s"$path/data/${e.name}"))
    val (ver, removed) = op.scanned.getOrElse(
      // a fully statically-pruned scan (0 groups) may never plan —
      // nothing to replace, commit as a pure add against current
      (ManifestTable.readManifest(path).map(_.version).getOrElse(0L),
        Set.empty[String]))
    CowOps.commitOrCleanup(path, ver, removed, entries, "",
      "cow-" + op.command().toString.toLowerCase)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GTabCommits.namesOf(messages).foreach(n =>
      FsMeta.deleteRecursive(s"$path/data/$n"))
}
