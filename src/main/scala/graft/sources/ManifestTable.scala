package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util
import java.util.zip.CRC32

import graft.functions.BloomUtil
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite,
  Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution,
  Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions,
  SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation,
  CountStar}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey,
  InputPartition, PartitionReader, PartitionReaderFactory, Scan,
  ScanBuilder, Statistics, SupportsPushDownAggregates,
  SupportsPushDownFilters, SupportsPushDownRequiredColumns,
  SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{
  KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream,
  Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter,
  DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo,
  RequiresDistributionAndOrdering, SupportsTruncate, Write, WriteBuilder,
  WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{
  StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{And, EqualNullSafe, EqualTo, Filter,
  GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan,
  LessThanOrEqual, Or}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Manifest-committed DSv2 table — the WRITE side of the connector surface
  * (GenSource covers read-side pushdown), built around the commit protocol
  * of /root/reference/mr/coordinator.go:37-53 (tmp-write then rename)
  * lifted to where it scales: executors write data files under UNIQUE
  * names directly to their final directory, and the only rename in the
  * whole commit is the single manifest pointer swap on the driver.
  *
  * Why not rename per data file (the reference's per-task protocol, and
  * Hadoop's FileOutputCommitter v1)? At 100 TB a job emits 10^5-10^6
  * files; O(files) driver-side renames serialize the commit, and on object
  * stores each "rename" is a full copy. Here visibility is governed SOLELY
  * by the manifest — readers list the manifest, never the directory — so
  * uncommitted or aborted task output is invisible garbage (collected by
  * [[ManifestTable.vacuum]]), task/speculative attempts can't collide
  * (file names carry the task id), and commit cost is O(1) renames +
  * O(files) manifest lines. This is the log-structured commit of the
  * Delta/Iceberg family, reduced to its load-bearing core.
  *
  * Crash/abort contract:
  *   - a failed task calls [[DataWriter.abort]] → its file is deleted; even
  *     if the executor dies first, the orphan is unlisted and invisible;
  *   - a failed job calls [[BatchWrite.abort]] → all staged files deleted,
  *     manifest untouched: readers keep seeing the previous version;
  *   - commit publishes manifest v(N+1) atomically (HDFS/local rename;
  *     CRC-validated on object stores — FsMeta's documented semantics), so
  *     a reader sees version N or N+1, never a mix.
  *
  * Format: one UTF-8 line per row, fields tab-separated with
  * backslash-escaping, `\N` for null (unambiguous: a literal backslash is
  * escaped). Supported field types: boolean, int, long, double, string —
  * validated at write-build time so an unsupported schema fails at plan
  * time, not mid-job. Doubles round-trip via java.lang.Double parsing
  * (shortest-repr toString is exact).
  *
  * Usage:
  * {{{
  *   df.write.format("graft.sources.ManifestTable")
  *     .option("path", dir).mode("append" | "overwrite").save()
  *   spark.read.format("graft.sources.ManifestTable")
  *     .option("path", dir).load()
  * }}}
  */
class ManifestTable extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val ref = Option(options.get("branch")).getOrElse("")
    ManifestTable.pinnedVersion(options) match {
      case Some(v) =>
        ManifestTable.readManifestAsOf(ManifestTable.pathOf(options), v,
          ref).schema
      case None =>
        ManifestTable.readManifest(ManifestTable.pathOf(options), ref) match {
          case Some(m) => m.schema
          case None => throw new IllegalArgumentException(
            (if (ref.isEmpty)
              s"no committed manifest at ${ManifestTable.pathOf(options)}"
            else s"no branch '$ref' at ${ManifestTable.pathOf(options)}") +
              " — write first, or pass an explicit schema")
        }
    }
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("option 'path' is required"))
    new GTable(path, schema)
  }
}

object ManifestTable {
  private[sources] def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("option 'path' is required"))

  /** TIME-TRAVEL read option: `.option("versionAsOf", n)` pins the scan
    * (file list AND schema) to manifest version n's snapshot.
    */
  private[sources] def versionAsOf(
      options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("versionAsOf")).map { v =>
      v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"versionAsOf must be a version number, got '$v'"))
    }

  /** The pinned version from EITHER time-travel read option:
    * `versionAsOf` (a manifest version) or `timestampAsOf` (epoch
    * millis — resolved to the latest version committed at or before it,
    * the same rule the catalog's `TIMESTAMP AS OF` uses).
    */
  private[sources] def pinnedVersion(
      options: CaseInsensitiveStringMap): Option[Long] =
    versionAsOf(options).orElse(
      Option(options.get("timestampAsOf")).map { t =>
        require(Option(options.get("branch")).isEmpty,
          "timestampAsOf resolves against MAIN's history — pin a " +
            "branch read with versionAsOf instead")
        versionAt(pathOf(options), t.toLongOption.getOrElse(
          throw new IllegalArgumentException(
            s"timestampAsOf must be epoch milliseconds, got '$t'")))
      })

  /** Internal read option restricting the scan to an explicit subset of
    * the manifest's files (comma-separated names — data file names are
    * filesystem-safe by construction). The copy-on-write row-level ops
    * ([[CowOps]]) use it to read ONLY the affected files; a name not in
    * the manifest is an error (never a silent empty scan).
    */
  private[sources] def filesOf(
      options: CaseInsensitiveStringMap): Option[Set[String]] =
    Option(options.get("files")).map(_.split(",").filter(_.nonEmpty).toSet)

  /** `base` is set only on BRANCH manifests: the MAIN version the
    * branch forked from, carried through every branch commit — the
    * fast-forward publish checks it to detect foreign main commits
    * since the fork (the write-audit-publish conflict rule).
    */
  final case class Manifest(version: Long, schema: StructType,
      inline: Seq[FileEntry], epoch: Long = -1L, base: Long = -1L,
      ts: Long = -1L, shards: Seq[ShardRef] = Nil, dir: String = "",
      op: String = "") {
    /** ALL file entries — inline plus every shard's, decoded lazily.
      * The metadata-tree contract: maintenance paths that genuinely
      * need the full census use this; the SCAN path goes through
      * [[ManifestTable.planFiles]] instead, which prunes SHARDS before
      * decoding a single entry line.
      */
    lazy val files: Seq[FileEntry] =
      if (shards.isEmpty) inline
      else inline ++ shards.flatMap(r => ManifestTable.readShard(dir, r))
    /** File/row counts WITHOUT decoding shards (history, count scans). */
    def nFiles: Int = inline.size + shards.map(_.nFiles).sum
    def nRows: Long = inline.map(_.rows).sum + shards.map(_.rows).sum
  }

  /** One metadata SHARD reference in the root manifest — Iceberg's
    * manifest-list shape on the gtab ledger: the root lists shards
    * (`@`-prefixed lines), each an immutable `meta/shard-*.gsh` file of
    * entry lines, carrying AGGREGATE facts so planning can prune whole
    * shards before decoding lines and a commit can rewrite O(touched
    * shards) instead of re-serializing every entry. `stats` aggregate the
    * members' (see [[shardRef]]) and prune through the SAME
    * [[GTabSkip.keep]] as files. The census answers table-level
    * questions without a decode: `pcols` (any member's partition
    * columns), `pall` (the set every member shares, empty when mixed),
    * `bloomCols`, `ndvCols`; `None` marks a pre-census shard, whose
    * callers decode instead. `hasDv` guards the metadata count;
    * `nameBloom` over member FILE NAMES lets commitReplace skip shards.
    * `crc` is the shard body's CRC32, validated at every decode.
    */
  final case class ShardRef(name: String, nFiles: Int, rows: Long,
      crc: Long, cols: Seq[String], stats: FileStats, pcols: Seq[String],
      pall: Option[Seq[String]], bloomCols: Option[Seq[String]],
      ndvCols: Option[Seq[String]], hasDv: Boolean,
      nameBloom: Option[Sketch])

  /** One committed data file. `cols` is the column list THIS file was
    * written with — the unit of schema evolution: the table schema may
    * grow (or an append may carry a subset), and readers resolve each
    * requested column BY NAME against the file's own list, yielding null
    * where the file predates the column. `stats.zones` are per-column
    * zone maps collected by the writer for NUMERIC columns only — string
    * collation differs between UTF8String's binary order and
    * codepoint/locale orders, so string zone maps are a correctness trap
    * deliberately left out. A column absent from the map (string col,
    * all-null file, or pre-evolution file) is simply never pruned on.
    * [[ManifestCodec]] maps entries to and from their manifest lines.
    */
  final case class FileEntry(name: String, rows: Long, crc: Long,
      cols: Seq[String], stats: FileStats = FileStats())

  // ---- metadata shards (the manifest TREE) ----
  // At ~10^6 files a single rendered manifest is a multi-GB driver
  // serialize on EVERY commit and a full decode on every plan. Shards
  // bound both: the root carries one line per shard, an append writes
  // one new shard, a replace rewrites only the shards holding removed
  // entries, and planning decodes only shards whose aggregate stats
  // survive pruning. Shard files are immutable and content-complete
  // (own CRC), shared across versions exactly like data files; vacuum
  // reclaims the unreferenced ones.

  /** Inline entries a root may carry before they spill into a shard —
    * small tables stay single-file (zero tree overhead, full back
    * compat), and appends batch ~InlineMax entries per shard write.
    */
  private[graft] val InlineMax = 128
  /** Target entries per shard (pruning granularity vs root width). */
  private[sources] val ShardTarget = 256
  // shards that shrank below this (replace-heavy tables) re-coalesce
  // once enough accumulate, keeping the root O(files / ShardTarget)
  private val SmallShardMin = 64
  private val MaxSmallShards = 8

  /** Decode counter — test seam for the prune-then-decode contract
    * (shards decoded == shards kept on a pruned scan).
    */
  private[graft] val shardDecodes = new java.util.concurrent.atomic.AtomicLong

  private[sources] def shardPath(dir: String, name: String): String =
    s"$dir/meta/$name"

  private[sources] def readShard(dir: String, r: ShardRef): Seq[FileEntry] = {
    require(dir.nonEmpty, "sharded manifest parsed without a directory")
    shardDecodes.incrementAndGet()
    val raw = FsMeta.readString(shardPath(dir, r.name))
    val ix = raw.indexOf('\n')
    require(ix > 0, s"corrupt shard ${r.name} at $dir: no header")
    val header = raw.substring(0, ix)
    val body = raw.substring(ix + 1)
    val c = new CRC32; c.update(body.getBytes(StandardCharsets.UTF_8))
    require(header == s"gshard crc=${c.getValue}" && c.getValue == r.crc,
      s"shard ${r.name} at $dir failed its CRC — torn/corrupted write")
    // entries always carry their own column lists (written by this
    // round's code), so the schema fallback never fires
    body.linesIterator.filter(_.nonEmpty)
      .map(ManifestCodec.parseEntry(_, StructType(Nil))).toSeq
  }

  private[sources] def writeShard(dir: String,
      entries: Seq[FileEntry]): ShardRef = {
    val body = entries.map(ManifestCodec.renderEntry).mkString("\n")
    val c = new CRC32; c.update(body.getBytes(StandardCharsets.UTF_8))
    val name = s"shard-${java.util.UUID.randomUUID}.gsh"
    FsMeta.mkdirs(s"$dir/meta")
    FsMeta.writeString(shardPath(dir, name),
      s"gshard crc=${c.getValue}\n" + body)
    shardRef(name, c.getValue, entries)
  }

  /** A shard's ref. Its stats keep a fact only where every member has
    * it (a shard without one is always kept): merged zone maps, the
    * value of each column the shard is single-valued on, the OR-union
    * of equal-shape blooms (exactly the union filter) and the byte sum.
    */
  private def shardRef(name: String, crc: Long,
      entries: Seq[FileEntry]): ShardRef = {
    val st = entries.map(_.stats)
    // the values of every key ALL members record
    def everywhere[V](m: FileStats => Map[String, V]): Seq[(String, Seq[V])] =
      if (st.isEmpty) Nil
      else st.map(m(_).keySet).reduce(_ intersect _).toSeq
        .map(k => k -> st.map(m(_)(k)))
    val zones = everywhere(_.zones).flatMap { case (c, vs) =>
      mergeZones(vs).map(c -> _) }
    val parts = everywhere(_.parts).collect {
      case (c, vs) if vs.distinct.size == 1 => c -> vs.head }
    // the union of ~ShardTarget dense members saturates: past half the
    // bits set it proves nothing and only widens every root line
    val blooms = everywhere(_.blooms).flatMap { case (c, vs) =>
      val words = vs.map(v => GTabBloom.decode(v.words))
      val acc = words.head.clone()
      words.tail.foreach { w =>
        var i = 0
        while (i < math.min(w.length, acc.length)) { acc(i) |= w(i); i += 1 }
      }
      Some(c -> Sketch(vs.head.k, GTabBloom.encode(acc))).filter(_ =>
        vs.forall(_.k == vs.head.k) && words.forall(_.length == acc.length) &&
          acc.map(java.lang.Long.bitCount).sum * 2 < acc.length * 64)
    }
    val size = Some(st.flatMap(_.size).sum)
      .filter(_ => st.forall(_.size.isDefined))
    val partSets = st.map(_.parts.keySet)
    // bloom over member FILE NAMES: commitReplace and the files-option
    // read probe it to skip shards that cannot hold a requested entry
    // (4096 bits ≈ 16 bits/name at ShardTarget members, sub-1% FPP — a
    // false positive costs one decode, never correctness)
    val nbl = new Array[Long](64)
    entries.foreach(e => BloomUtil.set(nbl, BloomUtil.hashString(e.name),
      GTabBloom.NumHashes))
    ShardRef(name, entries.size, entries.map(_.rows).sum, crc,
      entries.flatMap(_.cols).distinct,
      FileStats(zones.toMap, blooms.toMap, parts = parts.toMap, size = size),
      pcols = partSets.flatten.distinct.sorted,
      pall = Some(partSets.distinct match {
        case Seq(cs) => cs.toSeq.sorted
        case _ => Nil
      }),
      bloomCols = Some(st.flatMap(_.blooms.keys).distinct.sorted),
      ndvCols = Some(st.flatMap(_.ndvs.keys).distinct.sorted),
      hasDv = st.exists(_.hasDv),
      nameBloom = Some(Sketch(GTabBloom.NumHashes, GTabBloom.encode(nbl))))
  }

  /** Could shard `r` contain ANY of `names`? Name-bloom probe. */
  private def shardMightContain(r: ShardRef, names: Iterable[String])
      : Boolean = r.nameBloom match {
    case Some(b) =>
      val words = GTabBloom.decode(b.words)
      names.exists(n =>
        BloomUtil.mightContain(words, BloomUtil.hashString(n), b.k))
    case None => true
  }

  /** Serialized manifest: header `gtab v<version> [epoch=<e>]
    * crc=<crc32-of-body>`, body = schema DDL line + one entry line per
    * inline file + one `@`-marked line per shard ([[ManifestCodec]]).
    * The body CRC is what lets an object-store reader detect a torn
    * publish. `epoch` (present once a streaming write has committed) is
    * the high-water epoch id — the one field that makes streaming epoch
    * replays idempotent, carried IN the manifest so the dedup decision
    * and the publish are a single atomic swap.
    */
  private[graft] def render(m: Manifest): String = {
    val body = ((m.schema.toDDL +: m.inline.map(ManifestCodec.renderEntry)) ++
      m.shards.map(r => "@" + ManifestCodec.renderShard(r)))
      .mkString("\n")
    val c = new CRC32; c.update(body.getBytes(StandardCharsets.UTF_8))
    val ep = if (m.epoch >= 0) s" epoch=${m.epoch}" else ""
    val ba = if (m.base >= 0) s" base=${m.base}" else ""
    // commit wall-clock (ms) — what TIMESTAMP AS OF resolves against;
    // header-only like epoch/base, legacy manifests simply lack it
    val tt = if (m.ts >= 0) s" ts=${m.ts}" else ""
    // operation provenance (append/overwrite/cow-merge/…): the audit
    // column DESCRIBE-HISTORY ships in every production table format.
    // Restricted token so the header stays one greppable line.
    require(m.op.forall(ch => (ch >= 'a' && ch <= 'z') ||
        (ch >= '0' && ch <= '9') || ch == '-'),
      s"manifest op must be [a-z0-9-]*, got '${m.op}'")
    val oo = if (m.op.nonEmpty) s" op=${m.op}" else ""
    s"gtab v${m.version}$ep$ba$tt$oo crc=${c.getValue}\n" + body
  }

  def manifestPath(dir: String): String = dir + "/_MANIFEST"

  // ---- branches (write-audit-publish) ----
  // A branch is a SECOND pointer/snapshot namespace over the SAME data
  // directory: `_MANIFEST.b<name>` (pointer cache) and
  // `_MANIFEST.b<name>.v<N>` (snapshots), committed through the same
  // create-once CAS as main. Zero data is copied at fork time — the
  // branch manifest references main's files BY NAME. Writes with
  // `.option("branch", name)` version the branch only; main readers
  // never see them until [[fastForward]] publishes the branch head as
  // main's next version — and that publish REFUSES if main moved since
  // the fork (`base` check), so an audit can never clobber a foreign
  // commit. This is Iceberg's branch/WAP shape on the gtab ledger.
  private val BranchPrefix = "_MANIFEST.b"

  private def checkBranchName(name: String): Unit =
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit ||
      c == '_' || c == '-'),
      s"branch name must be [A-Za-z0-9_-]+, got '$name'")

  def branchPath(dir: String, name: String): String = {
    checkBranchName(name)
    s"$dir/$BranchPrefix$name"
  }

  /** Names of the live branches at `dir`. */
  def branches(dir: String): Seq[String] =
    FsMeta.listFiles(dir).collect {
      case n if n.startsWith(BranchPrefix) &&
          !n.drop(BranchPrefix.length).contains('.') =>
        n.drop(BranchPrefix.length)
    }.sorted

  /** Fork `name` off main's current version. O(1) metadata: the branch
    * head is a COPY of the manifest (file references, no data), with
    * `base` recording the fork point.
    */
  def createBranch(dir: String, name: String): Long = {
    checkBranchName(name)
    val main = readManifest(dir).getOrElse(throw new IllegalArgumentException(
      s"no committed manifest at $dir"))
    require(!FsMeta.exists(branchPath(dir, name)),
      s"branch '$name' already exists at $dir")
    publish(dir, main.copy(base = main.version, op = "branch-create"),
      ref = name)
    main.version
  }

  /** Thrown when [[fastForward]] finds main moved since the branch's
    * fork point — publishing would clobber the foreign commits.
    */
  final class BranchConflictException(val dir: String, val branch: String,
      val base: Long, val mainVersion: Long) extends RuntimeException(
    s"cannot fast-forward branch '$branch' at $dir: forked from main " +
      s"version $base but main is now at $mainVersion — rebase the branch " +
      "(re-create it from the current version and replay) or drop it")

  /** PUBLISH step of write-audit-publish: main's next version becomes
    * the branch head's contents — atomic, validated against `base`.
    * The branch itself is left in place (drop it separately).
    */
  def fastForward(dir: String, name: String): Long = {
    val bh = readManifest(dir, name).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' at $dir"))
    val cur = readManifest(dir).getOrElse(throw new IllegalStateException(
      s"branch '$name' exists but main has no manifest at $dir"))
    if (cur.version != bh.base)
      throw new BranchConflictException(dir, name, bh.base, cur.version)
    val next = cur.version + 1
    publish(dir, Manifest(next, bh.schema, bh.inline,
      math.max(bh.epoch, cur.epoch), shards = bh.shards, dir = dir,
      op = "fast-forward"))
    next
  }

  /** Delete a branch's pointer and snapshots. Its exclusively-written
    * data files become unreferenced and the next [[vacuum]] reclaims
    * them (vacuum protects every live branch's references). A missing
    * branch is a typed error, not a silent no-op: a typo during WAP
    * cleanup would otherwise leave the real branch alive — pinning its
    * files against vacuum indefinitely — while the caller believes it
    * was dropped.
    */
  def dropBranch(dir: String, name: String): Unit = {
    checkBranchName(name)
    if (!FsMeta.exists(branchPath(dir, name)))
      throw new IllegalArgumentException(s"no branch '$name' at $dir")
    FsMeta.listFiles(dir)
      .filter(n => n == BranchPrefix + name ||
        n.startsWith(BranchPrefix + name + ".v"))
      .foreach(n => FsMeta.deleteRecursive(s"$dir/$n"))
  }

  /** Immutable per-version snapshot manifest — the time-travel ledger.
    * Written (atomically) BEFORE the `_MANIFEST` pointer swap, so the
    * current pointer never references a missing snapshot; a crash
    * between the two leaves an orphan snapshot, which a later publish
    * of the same version simply overwrites.
    */
  def snapshotPath(dir: String, version: Long, ref: String = ""): String =
    if (ref.isEmpty) dir + s"/_MANIFEST.v$version"
    else branchPath(dir, ref) + s".v$version"

  /** The manifest as of `version` (a `versionAsOf` read). Fails with a
    * clear message when the snapshot is gone — either never written
    * (table predates time travel) or expired by [[expireSnapshots]].
    */
  def readManifestAsOf(dir: String, version: Long,
      ref: String = ""): Manifest = {
    val sp = snapshotPath(dir, version, ref)
    if (FsMeta.exists(sp)) parse(FsMeta.readString(sp), sp)
    else readManifest(dir, ref) match {
      // legacy table (pre-snapshot): the current version is still readable
      case Some(m) if m.version == version => m
      case Some(m) => throw new IllegalArgumentException(
        s"no snapshot for version $version at $dir (current ${m.version}) — " +
          "expired by expireSnapshots, or the table predates time travel")
      case None => throw new IllegalArgumentException(
        s"no committed manifest at $dir")
    }
  }

  /** Versions whose snapshots are still present, ascending. Only names
    * of the exact form `_MANIFEST.v<digits>` count: a crash between
    * publishAtomic's tmp write and its rename leaves `_MANIFEST.vN.tmp`
    * behind (and a concurrent lister can see it transiently during any
    * normal publish) — toLongOption skips those instead of throwing
    * NumberFormatException out of history/vacuum/expireSnapshots.
    */
  def snapshotVersions(dir: String, ref: String = ""): Seq[Long] = {
    val prefix =
      if (ref.isEmpty) "_MANIFEST.v" else s"$BranchPrefix$ref.v"
    FsMeta.listFiles(dir).flatMap { n =>
      if (n.startsWith(prefix)) n.drop(prefix.length).toLongOption else None
    }.sorted
  }

  def readManifest(dir: String, ref: String = ""): Option[Manifest] = {
    val mp = if (ref.isEmpty) manifestPath(dir) else branchPath(dir, ref)
    if (!FsMeta.exists(mp)) None
    else try Some(parse(FsMeta.readString(mp), mp))
    catch { case scala.util.control.NonFatal(e) =>
      // The pointer is a CACHE of the max CAS snapshot. A reader can
      // catch its in-place PUT mid-flight (no-rename mode on a store
      // without atomic overwrite; concurrent-writer storms interleave
      // pointer writes) and see a truncated or garbled payload — that
      // must not read as table corruption while the create-once
      // version snapshots hold the truth. Recover from the max
      // retained snapshot; rethrow only when there is none to recover
      // from (then the pointer really is the table's only state).
      // Deliberately NO write-on-read heal: republishing the recovered
      // payload here could land AFTER a concurrent writer's newer
      // pointer PUT and its self-heal check, silently REGRESSING the
      // pointer — the exact hazard publish() orders its writes to
      // avoid. The cost of not healing: a pointer torn by a crashed
      // writer on a quiescent table pays parse-fail + one LIST + one
      // snapshot read per readManifest until the next commit rewrites
      // it — a bounded metadata tax in a crash-and-idle corner, vs a
      // correctness hole in the hot write path.
      val vs = snapshotVersions(dir, ref)
      if (vs.isEmpty) throw e
      val sp = snapshotPath(dir, vs.last, ref)
      Some(parse(FsMeta.readString(sp), sp))
    }
  }

  private[graft] def parse(raw: String, mp: String): Manifest = {
    val ix = raw.indexOf('\n')
    require(ix > 0, s"corrupt manifest at $mp: no header line")
    val header = raw.substring(0, ix)
    val body = raw.substring(ix + 1)
    val hm = ("^gtab v(\\d+)(?: epoch=(-?\\d+))?(?: base=(\\d+))?" +
      "(?: ts=(\\d+))?(?: op=([a-z0-9-]+))? crc=(\\d+)$").r
    header match {
      case hm(v, ep, ba, tt, oo, crc) =>
        val c = new CRC32; c.update(body.getBytes(StandardCharsets.UTF_8))
        if (c.getValue != crc.toLong) throw new IllegalStateException(
          s"manifest at $mp failed its CRC — torn/corrupted publish " +
            s"(expected $crc, got ${c.getValue})")
        val lines = body.split("\n", -1).toSeq
        val schema = StructType.fromDDL(lines.head)
        val (shardLines, fileLines) =
          lines.tail.filter(_.nonEmpty).partition(_.startsWith("@"))
        val files = fileLines.map(ManifestCodec.parseEntry(_, schema))
        val shards =
          shardLines.map(l => ManifestCodec.parseShard(l.substring(1)))
        Manifest(v.toLong, schema, files,
          Option(ep).map(_.toLong).getOrElse(-1L),
          Option(ba).map(_.toLong).getOrElse(-1L),
          Option(tt).map(_.toLong).getOrElse(-1L),
          shards,
          // shards live under <table dir>/meta; mp is always a direct
          // child of the table dir (_MANIFEST[, .vN, .b<name>...])
          mp.substring(0, mp.lastIndexOf('/')),
          Option(oo).getOrElse(""))
      case _ => throw new IllegalStateException(
        s"manifest at $mp has an unrecognized header: '$header'")
    }
  }

  /** Thrown when a commit loses the version CAS to a concurrent writer:
    * version `version` at `dir` was published by someone else first. The
    * loser's state is untouched (its data files are unreferenced and
    * vacuum-able); callers retry by re-reading the current manifest and
    * recomputing — [[CowOps]] does so automatically, appends retry
    * inside [[commitVersion]].
    */
  final class ConcurrentCommitException(val dir: String, val version: Long,
      val foundVersion: Long) extends RuntimeException(
    s"concurrent commit at $dir: expected to publish version $version " +
      s"but another writer got there first (current version $foundVersion)")

  // ---- per-file NDV sketches (`FileStats.ndvs`) ----
  // A KMV (k-minimum-values) sketch per requested column per file: the
  // k smallest 64-bit hashes of the column's distinct values, written
  // by `.option("ndvColumns", "c1,c2")` (int/long/string — the bloom
  // type set). Unlike an NDV *number*, the hash sets MERGE exactly
  // across files (union, re-take k smallest), so the scan can report a
  // table-level distinct count over any pruned file subset — which is
  // what multi-table join REORDERING runs on (CBO's attributeStats):
  // size alone cannot distinguish a 1M-row key column from a 1M-row
  // 3-value flag column, NDV can. k=64 keeps the manifest line under
  // ~700 base64 chars per column per file; the (k-1)/u_k estimator has
  // ~1/sqrt(k-1) ≈ 13% relative error — cardinality-class accuracy,
  // exactly what join ordering needs. Sub-k unions are EXACT (no file
  // truncated its set).
  private[sources] val NdvK = 64

  /** Merge per-file KMV hash sets into a distinct-count estimate; None
    * when any kept file lacks the sketch (never guess from a partial
    * census). Exact below k; (k-1)/u_k above it.
    */
  private[sources] def mergeNdv(files: Seq[FileEntry], col: String)
      : Option[Long] = {
    val per = files.map(_.stats.ndvs.get(col))
    if (files.isEmpty || per.exists(_.isEmpty)) return None
    val k = per.map(_.get.k).min
    if (k < 2) return None
    // flip the sign bit so natural Long order == unsigned hash order
    val merged = per.flatMap(e => GTabBloom.decode(e.get.words))
      .map(_ ^ Long.MinValue).distinct.sorted
    if (merged.length < k) Some(merged.length.toLong)
    else {
      val kth = merged(k - 1) // flipped: unsigned rank order
      // u in (0,1]: the k-th smallest hash as a fraction of the space
      val u = (kth.toDouble - Long.MinValue.toDouble) / math.pow(2, 64)
      if (u <= 0) None else Some(math.max(k.toLong,
        math.round((k - 1).toDouble / u)))
    }
  }

  /** Merged zone-map bounds over the kept files as CATALYST-internal
    * values (boxed Int/Long/Double — what logical ColumnStat.min/max
    * carry), for the optimizer's range-selectivity estimates. None when
    * any kept file lacks the column's stats (all-null file, pre-stats
    * manifest, string column) — never guess bounds from a partial
    * census. Infinite doubles answer None (no usable bound).
    */
  private[sources] def mergeMinMax(files: Seq[FileEntry], col: String,
      dt: DataType): Option[(Any, Any)] = {
    val per = files.map(_.stats.zones.get(col))
    if (files.isEmpty || per.exists(_.isEmpty)) return None
    // a zone bound that is not a finite number fails the merge
    mergeZones(per.flatten).flatMap { case Zone(lo, hi) => dt match {
      case IntegerType => lo.toIntOption.zip(hi.toIntOption)
      case LongType => lo.toLongOption.zip(hi.toLongOption)
      case DoubleType => lo.toDoubleOption.zip(hi.toDoubleOption)
      case _ => None
    }}
  }

  /** The zone covering all of `zs`: [min lo, max hi] compared in exact
    * decimal arithmetic, each bound kept in its member's text. None when
    * a bound is not a finite number.
    */
  private def mergeZones(zs: Seq[Zone]): Option[Zone] =
    try {
      val lo = zs.minBy(z => BigDecimal(z.lo)).lo
      Some(Zone(lo, zs.maxBy(z => BigDecimal(z.hi)).hi))
    } catch { case _: NumberFormatException => None }

  // ---- per-file byte size (`FileStats.size`) ----
  // The writer records each data file's exact byte count in its manifest
  // entry. The scan sums them into a DSv2
  // statistics report: without one, Spark costs EVERY DSv2 relation at
  // `spark.sql.defaultSizeInBytes` (Long.MaxValue by default), so a join
  // against even a 1 KB gtab can never auto-broadcast — at 100 TB that
  // is the difference between a map-side hash join and a full two-sided
  // shuffle. Files from pre-round-13 manifests lack it; their bytes are
  // estimated from the row count and the text codec's per-type widths.

  // ---- partitioned layout (`FileStats.parts`) ----
  // A write with `.option("partitionColumn", c)` clusters rows by `c`
  // (the Write declares a clustered distribution + sort, so Spark
  // shuffles accordingly) and each task rolls a NEW data file whenever
  // the value changes — every file is single-valued on `c`, and records
  // that value in the row codec's own encoding. The scan
  // then (a) prunes files EXACTLY on equality/IN/null predicates over
  // `c` — including STRING columns, which zone maps deliberately
  // exclude — and (b) groups the kept files by value and reports the
  // layout as a KeyGroupedPartitioning over identity(c), which is what
  // unlocks the STORAGE-PARTITIONED JOIN: two gtabs partitioned on the
  // same column join (and group-aggregate) with ZERO shuffle exchanges
  // (the Iceberg bucket-join mechanism, `spark.sql.sources.v2.bucketing
  // .enabled`). At 100 TB that is the difference between a full
  // two-sided shuffle and none. Double partition columns are rejected:
  // Spark normalizes -0.0 == 0.0 while their codec strings differ, so
  // one logical key could split across two reported groups.

  /** The table's partition columns (possibly several — the date+hour
    * layout), DERIVED from the manifest: present iff every file records
    * the same non-empty partition column SET and every named column is in
    * the schema; ordered by schema position. Derivation (not a table
    * property) makes degradation safe by construction — one
    * unpartitioned append (or a rewrite that dropped the keys) simply
    * turns the layout report off; correctness never depended on it.
    */
  private[graft] def partitionColumnsOf(m: Manifest): Seq[String] =
    // a census shard stands for its members by their shared column set
    // (empty when mixed) — zero decodes; a pre-census shard decodes
    if (m.shards.forall(_.pall.isDefined))
      uniformColumns(m.inline.map(_.stats.parts.keySet) ++
        m.shards.map(_.pall.get.toSet), m.schema)
    else partitionColumnsOfFiles(m.files, m.schema)

  /** Partition-spec EVOLUTION support: the layout derivation over an
    * arbitrary file SUBSET. A re-specced table (set_partition_spec)
    * holds files of several layouts — the whole-table report degrades
    * (correctness never depended on it), but a scan whose pruning kept
    * only one spec's files regains the key-grouped report for exactly
    * what it reads (Iceberg's spec-evolution shape: old files keep
    * their layout, new files take the new one).
    */
  private[graft] def partitionColumnsOfFiles(files: Seq[FileEntry],
      schema: StructType): Seq[String] =
    uniformColumns(files.map(_.stats.parts.keySet), schema)

  // the non-empty column set all `sets` share, if in `schema`, in its order
  private def uniformColumns(sets: Seq[Set[String]],
      schema: StructType): Seq[String] =
    sets.headOption.filter(h => h.nonEmpty && sets.forall(_ == h) &&
      h.forall(schema.fieldNames.contains))
      .map(_.toSeq.sortBy(schema.fieldIndex)).getOrElse(Nil)

  /** Every partition column ANY file records, schema-resolved — the
    * superset used for pushdown USABILITY on mixed-spec tables: the
    * per-file partKeep check is conservative for files lacking the key,
    * so value-pruning on a retired or not-yet-universal spec is safe
    * and prunes exactly the files that do carry it.
    */
  private[graft] def anyPartitionColumns(m: Manifest): Seq[String] =
    // a shard ref carries the member partition-column NAMES, so
    // pushdown usability never decodes a shard
    (m.inline.flatMap(_.stats.parts.keys) ++ m.shards.flatMap(_.pcols))
      .distinct.filter(m.schema.fieldNames.contains)

  /** Decode one partition value from its codec form. */
  private[sources] def decodePartValue(enc: String, dt: DataType): Any =
    if (enc == Null) null
    else dt match {
      case BooleanType => java.lang.Boolean.parseBoolean(enc)
      case IntegerType => java.lang.Integer.parseInt(enc)
      case LongType => java.lang.Long.parseLong(enc)
      case StringType => UTF8String.fromString(unescape(enc))
      case other => throw new IllegalStateException(s"unreachable: $other")
    }

  /** Encode a pushed-filter literal in the codec's form for EXACT
    * comparison against a partition value; None = unencodable literal
    * (never prune on it).
    */
  private[sources] def encodePartLiteral(v: Any, dt: DataType)
      : Option[String] = (dt, v) match {
    case (_, null) => Some(Null)
    case (BooleanType, b: java.lang.Boolean) => Some(b.toString)
    case (IntegerType, n: java.lang.Integer) => Some(n.toString)
    case (IntegerType, n: java.lang.Short) => Some(n.intValue.toString)
    case (IntegerType, n: java.lang.Byte) => Some(n.intValue.toString)
    case (LongType, n: java.lang.Long) => Some(n.toString)
    case (LongType, n: java.lang.Integer) => Some(n.longValue.toString)
    case (StringType, s: String) => Some(escape(s))
    case (StringType, s: UTF8String) => Some(escape(s.toString))
    case _ => None
  }

  /** Rough per-column byte width of the tab-separated text codec, used
    * (a) to estimate legacy files that predate byte sizes and (b) to scale a
    * file's recorded bytes down to a pruned projection's share.
    */
  private[sources] def colWidth(dt: DataType): Long = dt match {
    case BooleanType => 5L
    case IntegerType => 7L
    case LongType => 10L
    case DoubleType => 18L
    case _ => 20L
  }

  private[sources] def bytesOf(f: FileEntry, schema: StructType): Long =
    f.stats.size.getOrElse {
      val w = f.cols.map(c => schema.fields.find(_.name == c)
        .map(x => colWidth(x.dataType)).getOrElse(20L)).sum
      f.rows * math.max(1L, w)
    }

  /** Rows a scan of `files` will actually emit: the physical counts
    * minus each file's position-vector cardinality. Exact: a vector
    * holds positions of one file, and its chain members are disjoint.
    */
  private[sources] def liveRows(files: Seq[FileEntry]): Long =
    files.map(f => f.rows - f.stats.dv.map(_.count).getOrElse(0L)).sum

  /** Write `positions` (sorted here, in place) as a new deletion-vector
    * sidecar in `dir`'s data directory, one per line — the table's own
    * text-codec discipline — and return its write-once name, invisible
    * until a manifest entry chains it. Takes an explicit Hadoop conf:
    * executors author sidecars too, and FsMeta's conf comes from the
    * driver's active session.
    */
  private[sources] def writeDv(conf: Configuration, dir: String,
      positions: Array[Long]): String = {
    java.util.Arrays.sort(positions)
    val name = s"dvp-${java.util.UUID.randomUUID}.gdv"
    val hp = new HPath(s"$dir/data/$name")
    val out = hp.getFileSystem(conf).create(hp, true)
    try out.write(positions.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    name
  }

  /** Read a deletion-vector sidecar back as a sorted array (driver or
    * executor side — takes an explicit Hadoop conf for the latter).
    */
  private[graft] def readDv(conf: Configuration, path: String)
      : Array[Long] = {
    val hp = new HPath(path)
    val fs = hp.getFileSystem(conf)
    val in = new BufferedReader(
      new InputStreamReader(fs.open(hp), StandardCharsets.UTF_8))
    try Iterator.continually(in.readLine()).takeWhile(_ != null)
      .filter(_.nonEmpty).map(java.lang.Long.parseLong).toArray.sorted
    finally in.close()
  }

  /** Resolve an explicit file-name subset (the `files` read option —
    * CowOps' affected-set reads, the change feed's sides) decoding only
    * shards whose NAME BLOOM might hold a requested name: the feed over
    * a sharded table costs O(changed shards), not O(table). A name not
    * found anywhere is still a typed error, never a silent empty scan.
    */
  private[sources] def filesNamed(m: Manifest,
      names: Set[String]): Seq[FileEntry] = {
    val found = m.inline.filter(f => names.contains(f.name)) ++
      m.shards.filter(shardMightContain(_, names))
        .flatMap(readShard(m.dir, _)).filter(f => names.contains(f.name))
    val missing = names -- found.map(_.name).toSet
    require(missing.isEmpty,
      s"files option names entries absent from the manifest: " +
        missing.mkString(","))
    found
  }

  /** PRUNE-THEN-DECODE planning: shard refs prune FIRST (their merged
    * zone maps / single-valued partition keys / OR'd blooms run through
    * the same conservative keep predicate as files, via the pseudo-
    * entry rendering), then only surviving shards decode, then their
    * entries prune individually. On a selective scan of a clustered
    * 10^6-file table this decodes O(matching shards), not O(table) —
    * MetadataTreeSpec pins decodes == kept shards.
    */
  private[graft] def planFiles(m: Manifest,
      keep: FileEntry => Boolean): Seq[FileEntry] =
    if (m.shards.isEmpty) m.inline.filter(keep)
    else m.inline.filter(keep) ++
      m.shards.filter(r => keep(FileEntry(r.name, r.rows, r.crc, r.cols,
        r.stats)))
        .flatMap(readShard(m.dir, _)).filter(keep)

  /** Scan partition for a manifest entry, deletion vectors attached —
    * shared by the batch scan and the micro-batch stream. An entry
    * still carrying an older build's value-keyed vector is refused:
    * reading past it would silently bring its deleted rows back.
    */
  private[sources] def partitionOf(path: String,
      f: FileEntry): GTabPartition = {
    f.stats.legacyDvs.headOption.foreach { case (k, _) =>
      throw new IllegalStateException(s"$path/data/${f.name} carries a " +
        s"value-keyed deletion vector ($k), which this build no longer " +
        "reads: compact the table with an older build first")
    }
    GTabPartition(s"$path/data/${f.name}", f.rows, f.crc, f.cols,
      f.stats.dv.toSeq.flatMap(_.names).map(n => s"$path/data/$n"))
  }

  /** Every file name version `m` references: data files plus their
    * deletion-vector sidecars — the set vacuum must protect (an older
    * build's value-keyed sidecar too, so compacting with that build
    * still finds it).
    */
  private[sources] def referencedNames(m: Manifest): Seq[String] =
    m.files.flatMap(f => f.name +: (f.stats.dv.toSeq.flatMap(_.names) ++
      f.stats.legacyDvs.flatMap(_._2)))

  /** Publish-time tree normalization: once a root would carry more
    * than InlineMax inline entries they spill into fresh shard files
    * (ShardTarget per shard), and shards that shrank small (replace-
    * heavy history) re-coalesce once MaxSmallShards accumulate — so
    * root width stays O(files / ShardTarget) and commit cost O(new
    * entries + touched shards), amortized. Small tables never shard.
    */
  private def normalized(dir: String, m: Manifest): Manifest =
    if (m.inline.size <= InlineMax) m
    else {
      val small = m.shards.filter(_.nFiles < SmallShardMin)
      val (merge, keep) =
        if (small.size >= MaxSmallShards) (small, m.shards.diff(small))
        else (Seq.empty[ShardRef], m.shards)
      val entries = m.inline ++ merge.flatMap(readShard(dir, _))
      val fresh = entries.grouped(ShardTarget)
        .map(writeShard(dir, _)).toSeq
      m.copy(inline = Nil, shards = keep ++ fresh, dir = dir)
    }

  /** Publish `m` with optimistic concurrency: the VERSION SNAPSHOT is
    * the CAS — `_MANIFEST.v<N>` is create-once (renameIfAbsent), so
    * exactly one writer can publish version N; the loser gets a typed
    * [[ConcurrentCommitException]] instead of silently overwriting the
    * winner (the lost-update mode the pre-round-12 overwrite-rename
    * had). The `_MANIFEST` pointer is a CACHE of the max snapshot,
    * republished after each win; if a winner crashes between its
    * snapshot and pointer writes, the next loser rolls the pointer
    * forward from the orphan snapshot, so the table never wedges. On a
    * store with atomic rename this is exactly Iceberg's
    * commit-by-create model minus the metastore.
    */
  private def publish(dir: String, m0: Manifest, ref: String = ""): Unit = {
    FsMeta.mkdirs(dir)
    val m = normalized(dir, m0)
    // every commit is stamped at publish time (monotone against the
    // previous version is NOT guaranteed under clock skew — versionAt
    // resolves by scanning all retained snapshots, not by bisection)
    val payload = render(
      if (m.ts >= 0) m else m.copy(ts = System.currentTimeMillis()))
    val ptrPath = if (ref.isEmpty) manifestPath(dir) else branchPath(dir, ref)
    // unique tmp per WRITER for the pointer publish too (round-17 storm
    // finding): a shared `_MANIFEST.tmp` lets writer A's ATOMIC_MOVE
    // steal the tmp file writer B is still writing — B then fails on a
    // vanished tmp (or worse, A publishes B's half-written payload).
    // The snapshot CAS already used unique tmps; the pointer must too.
    val ptrTmp = ptrPath + ".tmp-" + java.util.UUID.randomUUID
    // snapshot CAS: create-once on `_MANIFEST.v<N>`. Rename path for
    // stores with atomic rename; the no-rename mode publishes by
    // create-no-overwrite directly (one conditional PUT — the
    // object-store commit shape, NoRenameCommitSpec pins it)
    val won =
      if (FsMeta.noRenameCommits)
        FsMeta.createExclusive(snapshotPath(dir, m.version, ref), payload)
      else {
        // unique tmp per writer: a shared tmp name would let writer B's
        // payload be renamed by writer A
        val tmp = snapshotPath(dir, m.version, ref) + ".tmp-" +
          java.util.UUID.randomUUID
        FsMeta.writeString(tmp, payload)
        val ok = FsMeta.renameIfAbsent(tmp,
          snapshotPath(dir, m.version, ref))
        if (!ok) FsMeta.deleteRecursive(tmp)
        ok
      }
    if (!won) {
      // roll-forward: heal a crashed winner's lagging pointer before
      // surfacing the conflict, so retries can make progress
      val ptr = readManifest(dir, ref).map(_.version).getOrElse(0L)
      if (ptr < m.version)
        FsMeta.publishAtomic(ptrTmp, ptrPath,
          FsMeta.readString(snapshotPath(dir, m.version, ref)))
      throw new ConcurrentCommitException(dir, m.version,
        math.max(ptr, m.version))
    }
    FsMeta.publishAtomic(ptrTmp, ptrPath, payload)
    // self-heal pointer monotonicity: a slow writer's pointer write can
    // land after a faster successor's — detect and republish from the
    // max snapshot OF THIS REF's namespace (branch snapshots never heal
    // the main pointer, and vice versa)
    val maxSnap = snapshotVersions(dir, ref).lastOption.getOrElse(m.version)
    if (maxSnap > m.version)
      FsMeta.publishAtomic(ptrTmp, ptrPath,
        FsMeta.readString(snapshotPath(dir, maxSnap, ref)))
  }

  /** TIME TRAVEL maintenance: republish version `version`'s contents as
    * the NEXT version (current + 1) — history is never mutated, a
    * rollback is itself a versioned commit (Iceberg's rollback model),
    * so a rollback of a rollback works and readers pinned to any
    * snapshot are unaffected. The streaming epoch high-water is carried
    * forward from the CURRENT version (not the target's), so a later
    * checkpoint-recovery replay of an already-committed epoch is still
    * recognized. Returns the newly published version.
    */
  def rollback(dir: String, version: Long): Long = {
    val cur = readManifest(dir).getOrElse(throw new IllegalArgumentException(
      s"no committed manifest at $dir"))
    val target = readManifestAsOf(dir, version)
    val next = cur.version + 1
    publish(dir, Manifest(next, target.schema, target.inline, cur.epoch,
      shards = target.shards, dir = dir, op = "rollback"))
    next
  }

  /** CHANGE DATA FEED between two retained versions — Delta CDF's
    * shape, derived entirely from the MANIFEST DIFF instead of persisted
    * change files: entries whose (name, crc, stats) triple changed
    * between the versions are read under EACH version's own manifest
    * (so each side's deletion vectors and schema apply), and the
    * row-level symmetric difference (exceptAll — multiplicity honored)
    * is the feed, tagged `_change_type` insert/delete. Unchanged
    * entries are never opened: the cost is O(changed files + their
    * rows), not O(table) — the scale contract that makes a CDC consumer
    * of a 100 TB table viable. Updates surface as delete+insert pairs
    * (a value-keyed feed cannot pair them; consumers with a key join
    * the two sides). Stats participate in the entry key deliberately:
    * a merge-on-read delete changes no file NAME, but its `#dvp` stats
    * change puts the file on both sides and the except yields exactly
    * the deleted rows. Across a schema evolution both sides project to
    * the TO version's schema (missing columns null), so the consumer
    * sees one schema.
    */
  def changeFeed(spark: org.apache.spark.sql.SparkSession, dir: String,
      fromVersion: Long, toVersion: Long)
      : org.apache.spark.sql.DataFrame = {
    require(fromVersion < toVersion,
      s"changeFeed needs fromVersion < toVersion, " +
        s"got $fromVersion >= $toVersion")
    feedBetween(spark, dir,
      readManifestAsOf(dir, fromVersion),
      Map("versionAsOf" -> fromVersion.toString),
      readManifestAsOf(dir, toVersion),
      Map("versionAsOf" -> toVersion.toString))
  }

  /** The AUDIT step of write-audit-publish as a row-level diff: what
    * would [[fastForward]]`(dir, name)` change? Same shape as
    * [[changeFeed]] (`_change_type` insert/delete, O(changed files)),
    * with main's head as FROM and the branch head as TO — each side
    * read under its own namespace's manifest.
    */
  def branchDiff(spark: org.apache.spark.sql.SparkSession, dir: String,
      name: String): org.apache.spark.sql.DataFrame = {
    val main = readManifest(dir).getOrElse(
      throw new IllegalArgumentException(s"no committed manifest at $dir"))
    val bh = readManifest(dir, name).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' at $dir"))
    feedBetween(spark, dir,
      main, Map("versionAsOf" -> main.version.toString),
      bh, Map("branch" -> name, "versionAsOf" -> bh.version.toString))
  }

  /** The two sides' entries with SHARED SHARDS elided: a shard ref
    * present in both manifests (same name + crc) contributes identical
    * entries to both sides of any (name, crc, stats) diff — they cancel
    * — so neither side decodes it. The change feed over a sharded
    * 10^6-file table costs O(changed shards) metadata, matching its
    * O(changed files) data contract. An entry that merely MOVED between
    * inline and a shard (a spill) appears on both decoded sides and
    * still cancels in the key diff.
    */
  private[sources] def changedFiles(mFrom: Manifest, mTo: Manifest)
      : (Seq[FileEntry], Seq[FileEntry]) = {
    val shared = mFrom.shards.map(r => (r.name, r.crc)).toSet
      .intersect(mTo.shards.map(r => (r.name, r.crc)).toSet)
    def side(m: Manifest): Seq[FileEntry] =
      m.inline ++ m.shards.filterNot(r => shared.contains((r.name, r.crc)))
        .flatMap(readShard(m.dir, _))
    (side(mFrom), side(mTo))
  }

  /** Manifest-diff change feed between two pinned table states; the
    * `opts` pin each side's read (versionAsOf, and branch for a
    * branch-side). Entries whose (name, crc, stats) changed are read
    * under their own side; unchanged entries are never opened.
    */
  private def feedBetween(spark: org.apache.spark.sql.SparkSession,
      dir: String, mFrom: Manifest, fromOpts: Map[String, String],
      mTo: Manifest, toOpts: Map[String, String])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    def key(f: FileEntry) = (f.name, f.crc, f.stats)
    val (fromSide, toSide) = changedFiles(mFrom, mTo)
    val fromKeys = fromSide.map(key).toSet
    val toKeys = toSide.map(key).toSet
    val oldNames = fromSide.filterNot(f => toKeys.contains(key(f)))
      .map(_.name)
    val newNames = toSide.filterNot(f => fromKeys.contains(key(f)))
      .map(_.name)
    // both sides in the TO schema: present columns by name, absent as
    // typed nulls (the reader's own evolution rule, applied at the hop)
    def side(opts: Map[String, String], names: Seq[String],
        sideSchema: StructType): org.apache.spark.sql.DataFrame = {
      val df =
        if (names.isEmpty) spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), sideSchema)
        else opts.foldLeft(
            spark.read.format("graft.sources.ManifestTable")
              .option("path", dir)
              .option("files", names.mkString(","))) {
            case (r, (k, v)) => r.option(k, v)
          }.load()
      // backtick-quote on resolve: a plain col(name) parses '.' as a
      // nested-field path, so a top-level column named "a.b" would fail
      // analysis here where the reader itself handles it fine
      df.select(mTo.schema.fields.toSeq.map { f =>
        if (df.schema.fieldNames.contains(f.name))
          col("`" + f.name.replace("`", "``") + "`")
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }
    val oldDf = side(fromOpts, oldNames, mFrom.schema)
    val newDf = side(toOpts, newNames, mTo.schema)
    // Both directions of the multiplicity-honoring symmetric difference
    // from ONE scan of each side: tag, union, count per side per row,
    // re-emit |new − old| copies signed insert/delete. Two exceptAlls
    // compute the same thing (Spark's own exceptAll lowers to exactly
    // this union+count+replicate shape) but scan BOTH sides TWICE and
    // shuffle twice — on a 100 TB table's changed files that doubles
    // the feed's I/O for no information (round-16 q94 finding: 4
    // GTabScans for a 2-version diff; this plan has 2).
    import org.apache.spark.sql.functions.{abs => fAbs, sum, when}
    val dataCols = mTo.schema.fieldNames.toSeq
    // quoted resolution throughout: groupBy/select on a bare name would
    // parse '.' and '`' as path syntax instead of the column's name
    def fCol(n: String) = col("`" + n.replace("`", "``") + "`")
    // the feed's output schema RESERVES _change_type (Delta's CDF
    // column name) — a user column of that name would be silently
    // overwritten by BOTH feed forms, so refuse it loudly
    if (dataCols.contains("_change_type"))
      throw new IllegalArgumentException(
        s"table at $dir has a column named _change_type, which the " +
          "change feed reserves for its own output; rename the column " +
          "to read a change feed from this table")
    // a user column named __cf_* would collide with the tag columns —
    // vanishingly unlikely, but fall back to the (2x-scan) exceptAll
    // form rather than silently overwriting it
    if (dataCols.exists(_.startsWith("__cf_")))
      return newDf.exceptAll(oldDf)
        .withColumn("_change_type", lit("insert"))
        .unionByName(oldDf.exceptAll(newDf)
          .withColumn("_change_type", lit("delete")))
    val tagged = newDf.withColumn("__cf_side", lit(1L))
      .unionByName(oldDf.withColumn("__cf_side", lit(0L)))
    val counted = tagged.groupBy(dataCols.map(fCol): _*)
      .agg(sum(when(fCol("__cf_side") === 1L, 1L).otherwise(0L))
          .as("__cf_new"),
        sum(when(fCol("__cf_side") === 0L, 1L).otherwise(0L))
          .as("__cf_old"))
      .withColumn("__cf_delta", fCol("__cf_new") - fCol("__cf_old"))
      .filter(fCol("__cf_delta") =!= 0L)
      .withColumn("_change_type",
        when(fCol("__cf_delta") > 0L, lit("insert")).otherwise(lit("delete")))
      .select((dataCols.map(fCol) :+ fCol("_change_type") :+
        fAbs(fCol("__cf_delta")).as("__cf_n")): _*)
    // Replication via TWO-LEVEL chunked explode, fully inside codegen.
    // A single explode(sequence(1, n)) materializes an n-element array
    // per distinct row first: a diff where one constant row's
    // multiplicity changes by millions (telemetry compaction, dedup of
    // identical rows) would build that array inside one aggregated row
    // — executor OOM at exactly the scale this one-pass form exists
    // for. Chunking bounds every materialized array at ReplicateChunk
    // elements (inner) or n/ReplicateChunk (outer — 4 MB transient at
    // a 2-billion-row delta) while the common n=1 row costs two
    // 1-element arrays. A streamed flatMap variant was measured 30%
    // slower on the common path (row-encoder boundary), and a
    // small/large union plan re-scanned the changed files twice.
    val ReplicateChunk = 4096L
    import org.apache.spark.sql.functions.{explode, least, sequence}
    counted
      .withColumn("__cf_c", explode(sequence(lit(0L),
        ((fCol("__cf_n") - 1L) / ReplicateChunk).cast("long"))))
      .withColumn("__cf_i", explode(sequence(lit(1L),
        least(lit(ReplicateChunk),
          fCol("__cf_n") - fCol("__cf_c") * ReplicateChunk))))
      .select((dataCols.map(fCol) :+ fCol("_change_type")): _*)
  }

  /** Table history from the retained snapshots — Delta's DESCRIBE
    * HISTORY shape, answered ENTIRELY from manifest metadata (no data
    * file is opened): one (version, n_files, n_rows, epoch) tuple per
    * retained version, ascending. O(retained versions) driver work.
    */
  def history(dir: String): Seq[(Long, Int, Long, Long, Long, String)] =
    snapshotVersions(dir).map { v =>
      val m = readManifestAsOf(dir, v)
      // counts from root metadata alone — no shard decodes for history
      (m.version, m.nFiles, m.nRows, m.epoch, m.ts, m.op)
    }

  /** TIMESTAMP AS OF resolution: the LATEST retained version committed
    * at or before `tsMillis` (Delta/Iceberg's rule). Only stamped
    * versions participate (pre-round-14 snapshots lack `ts=`); a
    * timestamp before the earliest stamped commit is a typed error
    * naming the bound, and versions expired by expireSnapshots are
    * gone here exactly as they are for VERSION AS OF.
    */
  def versionAt(dir: String, tsMillis: Long): Long = {
    val stamped = (snapshotVersions(dir).map(v =>
        readManifestAsOf(dir, v)) ++ readManifest(dir).toSeq)
      .filter(_.ts >= 0).distinctBy(_.version)
    if (stamped.isEmpty) throw new IllegalArgumentException(
      s"no timestamped versions at $dir — the table predates " +
        "TIMESTAMP AS OF support; use VERSION AS OF")
    val eligible = stamped.filter(_.ts <= tsMillis)
    if (eligible.isEmpty) throw new IllegalArgumentException(
      s"no version at or before timestamp $tsMillis at $dir — the " +
        s"earliest stamped commit is at ${stamped.map(_.ts).min}")
    eligible.maxBy(_.version).version
  }

  /** Drop snapshot manifests older than the last `keepLast` versions
    * (the current version always survives). Expired versions stop being
    * time-travelable, and their exclusively-referenced data files become
    * reclaimable by the next [[vacuum]]. Returns the versions expired.
    * `ref` names a branch to expire THAT namespace's snapshot chain
    * instead of main's (the branch head, like main's pointer, always
    * survives).
    */
  def expireSnapshots(dir: String, keepLast: Int,
      ref: String = ""): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val cur = readManifest(dir, ref).map(_.version)
      .getOrElse(return Seq.empty)
    val cutoff = cur - keepLast + 1
    snapshotVersions(dir, ref).filter(v => v < cutoff && v != cur).map { v =>
      FsMeta.deleteRecursive(snapshotPath(dir, v, ref)); v
    }
  }

  /** Commit a new manifest version. `keepPrevious` = append semantics
    * (previous files stay listed); false = overwrite semantics (previous
    * files drop out of the manifest — data deletion is vacuum's job, so
    * an in-flight reader of version N still finds its files).
    */
  /** Schema evolution on append: the incoming schema may ADD columns
    * (table schema becomes the union) or OMIT existing ones (the batch's
    * files just don't carry them) — but a column present on both sides
    * must keep its type. Once any file lacks a column, every field goes
    * nullable: readers fill the gaps with null. Overwrite resets the
    * schema to the write's exactly.
    */
  private def evolve(prev: StructType, next: StructType): StructType = {
    val prevByName = prev.fields.map(f => f.name -> f).toMap
    next.fields.foreach { f =>
      prevByName.get(f.name).foreach { pf =>
        require(pf.dataType == f.dataType,
          s"column ${f.name}: append type ${f.dataType.sql} != " +
            s"table type ${pf.dataType.sql} — evolution may add or omit " +
            "columns, never retype them")
      }
    }
    if (prev == next) prev
    else {
      val added = next.fields.filterNot(f => prevByName.contains(f.name))
      StructType((prev.fields ++ added).map(_.copy(nullable = true)))
    }
  }

  private[graft] def commitVersion(dir: String, schema: StructType,
      newFiles: Seq[FileEntry], keepPrevious: Boolean,
      epoch: Long = -1L, ref: String = "", op: String = ""): Unit = {
    // operation provenance for history(); callers may override (e.g.
    // "create" for an empty CREATE TABLE, "replace" for RTAS)
    val opName = if (op.nonEmpty) op
      else if (epoch >= 0) "stream-epoch"
      else if (keepPrevious) "append" else "overwrite"
    // bounded CAS-retry: appends (and overwrite-truncates) are safe to
    // replan against whoever won — re-read, re-derive, re-publish. The
    // epoch-replay check re-runs per attempt: the concurrent winner may
    // have been exactly this epoch's other attempt.
    var attempts = 0
    while (true) {
      val prev = readManifest(dir, ref)
      if (ref.nonEmpty && prev.isEmpty)
        throw new IllegalArgumentException(
          s"no branch '$ref' at $dir — createBranch first")
      // streaming epoch replay (checkpoint recovery re-runs a committed
      // batch): the manifest already covers this epoch — drop the rerun's
      // files instead of double-appending, and keep the published state
      if (epoch >= 0 && prev.exists(_.epoch >= epoch)) {
        newFiles.foreach(f => FsMeta.deleteRecursive(s"$dir/data/${f.name}"))
        return
      }
      val published =
        if (keepPrevious) prev.map(p => evolve(p.schema, schema))
          .getOrElse(schema)
        else schema
      // a column this append ADDS must not collide with one a live file
      // still physically carries (a DROP COLUMN's leftover): the reader
      // resolves by name, so it would parse the stale encoding under
      // the new column's type. The census comes from inline entries +
      // shard col UNIONS — no shard decode on the append path.
      if (keepPrevious) prev.foreach { p =>
        val addedCols = published.fieldNames.toSet -- p.schema.fieldNames
        if (addedCols.nonEmpty) {
          val live = p.inline.flatMap(_.cols).toSet ++
            p.shards.flatMap(_.cols)
          val clash = addedCols.intersect(live)
          require(clash.isEmpty,
            s"column(s) ${clash.mkString(", ")} were dropped but live " +
              "files still carry them — compact the table first or use " +
              "a new name")
        }
      }
      val (baseInline, baseShards) =
        if (keepPrevious) prev.map(p => (p.inline, p.shards))
          .getOrElse((Nil, Nil))
        else (Nil, Nil)
      try {
        publish(dir, Manifest(prev.map(_.version + 1).getOrElse(1L),
          published, baseInline ++ newFiles,
          math.max(epoch, prev.map(_.epoch).getOrElse(-1L)),
          // a branch commit carries the fork point forward
          prev.map(_.base).getOrElse(-1L), shards = baseShards,
          dir = dir, op = opName), ref)
        return
      } catch {
        case e: ConcurrentCommitException =>
          attempts += 1
          if (attempts >= 5) throw e
      }
    }
  }

  /** CREATE-once commit: publish version 1 of a table that must not
    * exist yet — NO CAS retry (a retry would append the loser's CTAS
    * onto the winner's table as v2). The no-rename CTAS publish point:
    * data files are already at `dir`/data under write-once names, and
    * this single create-no-overwrite snapshot is what makes the table
    * exist. Racing creators: exactly one wins; the loser's
    * [[ConcurrentCommitException]] maps to TableAlreadyExists upstream.
    */
  private[sources] def commitCreate(dir: String, schema: StructType,
      newFiles: Seq[FileEntry], op: String = "create"): Unit = {
    readManifest(dir).foreach { m =>
      throw new ConcurrentCommitException(dir, 1L, m.version)
    }
    publish(dir, Manifest(1L, schema, newFiles, dir = dir, op = op))
  }

  /** Publish the next version with an EXPLICIT schema and a metadata
    * transformation of the file entries — the commit primitive of the
    * ALTER TABLE family (RENAME/DROP COLUMN, type widening): zero data
    * files are touched, the change is one atomic manifest publish, and
    * time travel keeps returning each version's own schema. Unlike
    * [[commitVersion]] (whose evolve() unions schemas — right for
    * appends, wrong for DDL that must REMOVE or REWRITE schema parts),
    * `transform` produces the published (schema, file-entry map) FROM
    * THE CURRENT MANIFEST and is re-evaluated on every CAS attempt —
    * a precomputed schema would silently revert any commit that landed
    * between the caller's read and the publish (the window a
    * whole-table analyze scan holds open for seconds). Bounded CAS
    * retry, like every append-safe commit.
    */
  private[graft] def commitSchema(dir: String,
      transform: Manifest => (StructType, Seq[FileEntry] => Seq[FileEntry]),
      op: String = "alter-schema"): Long = {
    var attempts = 0
    while (true) {
      val cur = readManifest(dir).getOrElse(
        throw new IllegalArgumentException(
          s"no committed manifest at $dir"))
      val (newSchema, mapFiles) = transform(cur)
      val next = cur.version + 1
      try {
        // DDL transforms touch every entry by definition — decode all,
        // map, and let publish re-shard the result (O(metadata), the
        // inherent cost of a whole-table schema/stats rewrite)
        publish(dir, Manifest(next, newSchema, mapFiles(cur.files),
          cur.epoch, cur.base, dir = dir, op = op))
        return next
      } catch {
        case e: ConcurrentCommitException =>
          attempts += 1
          if (attempts >= 5) throw e
      }
    }
    -1L // unreachable
  }

  /** Publish the next version with `removeNames` dropped from the file
    * list and `added` appended — the commit primitive of the
    * copy-on-write row-level operations ([[CowOps]]): untouched files
    * carry over BY REFERENCE (never reread, never rewritten), removed
    * files stay on disk for in-flight/time-travel readers until
    * expireSnapshots + vacuum. Schema and streaming epoch high-water
    * carry over unchanged. Returns the published version.
    */
  private[graft] def commitReplace(dir: String, expectedVersion: Long,
      removeNames: Set[String], added: Seq[FileEntry],
      ref: String = "", op: String = "replace-files"): Long = {
    val cur = readManifest(dir, ref).getOrElse(
      throw new IllegalArgumentException(
        if (ref.isEmpty) s"no committed manifest at $dir"
        else s"no branch '$ref' at $dir — createBranch first"))
    // snapshot-isolation validation: the replacement was computed
    // against `expectedVersion`'s file set — if ANY commit landed since
    // (even a pure append), the affected-set/bloom/zone-map reasoning
    // may be stale; surface the typed conflict so the caller recomputes
    // against the new current version (CowOps retries automatically)
    if (cur.version != expectedVersion)
      throw new ConcurrentCommitException(dir, expectedVersion + 1,
        cur.version)
    // O(touched shards): inline removals drop directly; only shards
    // whose NAME BLOOM says they might hold a removed entry decode, and
    // only those that actually do rewrite — untouched shards carry over
    // by reference, exactly like untouched data files
    val inlineKeep = cur.inline.filterNot(f => removeNames.contains(f.name))
    var remaining = removeNames --
      cur.inline.map(_.name).filter(removeNames.contains)
    val keptShards = scala.collection.mutable.ListBuffer.empty[ShardRef]
    cur.shards.foreach { r =>
      if (remaining.nonEmpty && shardMightContain(r, remaining)) {
        val entries = readShard(dir, r)
        val (hit, kept) = entries.partition(e => remaining.contains(e.name))
        if (hit.isEmpty) keptShards += r
        else {
          remaining --= hit.map(_.name)
          if (kept.nonEmpty) keptShards += writeShard(dir, kept)
        }
      } else keptShards += r
    }
    require(remaining.isEmpty,
      s"commitReplace removing files absent from the manifest: " +
        remaining.mkString(","))
    val next = cur.version + 1
    publish(dir, Manifest(next, cur.schema, inlineKeep ++ added,
      cur.epoch, cur.base, shards = keptShards.toSeq, dir = dir,
      op = op), ref)
    next
  }

  /** Rewrite the table's current contents into `targetFiles` files and
    * publish the result as the next manifest version — small-file
    * compaction for an append-heavy (especially streaming) table, the
    * third leg of the maintenance triad beside [[vacuum]] and schema
    * evolution. Readers are never blocked: data files are add-only and
    * uniquely named, a read plans against whichever manifest version it
    * saw, and the swap is the usual atomic publish. The replaced
    * fragments stay on disk for in-flight readers until a later
    * [[vacuum]] passes their grace window. Single-writer discipline
    * applies (as for every publish): an append racing the compaction
    * loses whichever manifest lands first. Returns (filesBefore,
    * filesAfter).
    */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetFiles: Int, clusterBy: Seq[String] = Nil): (Int, Int) = {
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    val before = readManifest(dir).getOrElse(throw new IllegalArgumentException(
      s"no committed manifest at $dir")).files.size
    val df = spark.read.format("graft.sources.ManifestTable")
      .option("path", dir).load()
    // LAYOUT-PRESERVING compaction: a plain round-robin repartition
    // scatters every key range across every output file, silently
    // destroying the zone-map prunability a range-clustered write paid
    // for — after one naive compaction a selective range read degrades
    // from O(matching files) back to O(table). `clusterBy` re-clusters
    // the output (range partition + in-file sort) so skipping survives
    // the rewrite; pass the table's cluster key whenever it has one.
    // PARTITIONED table: preserve the `#part:` layout through the
    // rewrite (the write's declared distribution replaces the manual
    // shaping — roughly one file per partition value), unless the
    // caller asked for a DIFFERENT clustering, which is an explicit
    // layout switch and degrades the partition report by design.
    val m0 = readManifest(dir).get
    val pcols = partitionColumnsOf(m0)
    val keepPart = pcols.nonEmpty &&
      (clusterBy.isEmpty || clusterBy == pcols)
    val shaped =
      if (keepPart) df
      else if (clusterBy.isEmpty) df.repartition(targetFiles)
      else df.repartitionByRange(targetFiles,
          clusterBy.map(org.apache.spark.sql.functions.col): _*)
        .sortWithinPartitions(
          clusterBy.map(org.apache.spark.sql.functions.col): _*)
    // the rewrite preserves the table's bloom and NDV-sketch
    // configuration (CowOps' rule for staged rewrites, applied here
    // too): a maintenance compaction must not silently strip the
    // skipping structures or the optimizer statistics — only columns
    // still in the live schema carry over (a DROP COLUMN relies on
    // compaction to purge the retired name)
    val w = shaped.write.format("graft.sources.ManifestTable")
      .option("path", dir).options(CowOps.skipOptions(dir, m0))
    (if (keepPart) w.option("partitionColumn", pcols.mkString(",")) else w)
      .option("commitOp", "compact").mode("overwrite").save()
    (before, readManifest(dir).get.files.size)
  }

  /** Delete data files not listed in the current manifest — nor in ANY
    * retained version snapshot (time-travel readers of a live snapshot
    * must keep finding their files; run [[expireSnapshots]] first to
    * actually reclaim history) — and older than `graceMs` (the grace
    * window keeps a just-written uncommitted job and an in-flight reader
    * of a just-overwritten version safe — MergeSink's gcGraceMs
    * contract).
    *
    * `keepLast` is the retention policy in the same call: snapshots
    * beyond the most recent `keepLast` versions are expired FIRST, so a
    * periodic `vacuum(dir, grace, keepLast = n)` actually reclaims
    * space. Without it (the default retains everything), every commit's
    * permanent snapshot protects its files forever and vacuum alone
    * reclaims only uncommitted stragglers — fine for audit tables,
    * a disk leak on a streaming sink committing every epoch.
    *
    * `keepLast` applies to every LIVE BRANCH's snapshot chain too (each
    * branch keeps its own most-recent `keepLast` versions; the branch
    * head always survives) — otherwise one long-lived branch on a
    * streaming table would pin every version it ever committed and
    * periodic vacuum would reclaim nothing. A branch's retained
    * versions still protect their files until the branch is dropped or
    * fast-forwarded.
    */
  def vacuum(dir: String, graceMs: Long = 3600000L,
      keepLast: Int = Int.MaxValue): Seq[String] = {
    expireSnapshots(dir, keepLast)
    if (keepLast != Int.MaxValue)
      branches(dir).foreach(b => expireSnapshots(dir, keepLast, b))
    // every LIVE branch's RETAINED snapshot chain protects its files
    // too: an audit branch's staged data must survive a main-side
    // vacuum until the branch is dropped or fast-forwarded
    val branchRefs = branches(dir).flatMap { b =>
      readManifest(dir, b).toSeq ++
        snapshotVersions(dir, b).map(readManifestAsOf(dir, _, b))
    }
    val listed = (readManifest(dir).toSeq ++
        snapshotVersions(dir).map(readManifestAsOf(dir, _)) ++
        branchRefs)
      .flatMap(referencedNames).toSet
    val now = System.currentTimeMillis()
    // metadata shards are versioned like data files: every retained
    // root's shard list protects its shards; orphans (expired versions,
    // crashed publishes) reclaim past the same grace window
    val liveShards = (readManifest(dir).toSeq ++
        snapshotVersions(dir).map(readManifestAsOf(dir, _)) ++
        branches(dir).flatMap { b =>
          readManifest(dir, b).toSeq ++
            snapshotVersions(dir, b).map(readManifestAsOf(dir, _, b))
        })
      .flatMap(_.shards.map(_.name)).toSet
    val shardsGone = FsMeta.listFiles(dir + "/meta")
      .filterNot(liveShards.contains)
      .filter(f => now - FsMeta.modificationTime(dir + "/meta/" + f) >= graceMs)
      .map { f => FsMeta.deleteRecursive(dir + "/meta/" + f); f }
    shardsGone ++
      FsMeta.listFiles(dir + "/data").filterNot(f => listed.contains(f))
      .filter(f => now - FsMeta.modificationTime(dir + "/data/" + f) >= graceMs)
      .map { f => FsMeta.deleteRecursive(dir + "/data/" + f); f }
  }

  // ---- row codec (write side mirrors read side; both executor-local) ----
  private[sources] val Null = "\\N"

  private[sources] def escape(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' => b.append("\\\\")
        case '\t' => b.append("\\t")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case c => b.append(c)
      }
      i += 1
    }
    b.toString
  }
  private[sources] def unescape(s: String): String = {
    val b = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '\\' => b.append('\\'); i += 1
          case 't' => b.append('\t'); i += 1
          case 'n' => b.append('\n'); i += 1
          case 'r' => b.append('\r'); i += 1
          case o => b.append(c); b.append(o); i += 1
        }
      } else b.append(c)
      i += 1
    }
    b.toString
  }

  /** Reserved METADATA column: the data file path a row came from
    * (Iceberg/Delta's `_file` shape), exposed via SupportsMetadataColumns
    * — `SELECT _file, * FROM t` works, and it is what makes the
    * row-level operation API safe on this connector: declaring a
    * required metadata attribute makes Spark's ReplaceData apply its
    * row projection before handing rows to the writer (the
    * metadata-less group-based path ships rows WITH the internal
    * `__row_operation` column — measured on 4.1, not assumed).
    */
  val FileMetaCol = "_file"

  /** Reserved METADATA column: the 0-based physical line ordinal of a
    * row within its data file (Iceberg's `_pos` shape). The line-
    * oriented codec makes it STABLE: rows are never reordered in place,
    * deletes are sidecars, rewrites produce new files. (_file, _pos) is
    * therefore a durable row identity — the row ID the merge-on-read
    * SQL DML (SupportsDelta) keys its position deletion vectors on.
    */
  val PosMetaCol = "_pos"

  // ---- deletion vectors (`FileStats.dv`, a `#dvp` key on disk) ----
  // The one merge-on-read delete format: a [[DvChain]] (chain, count)
  // marks rows deleted BY PHYSICAL POSITION (sorted line ordinals in
  // the sidecar, one per line). The read path skips marked ordinals
  // row-level, and a later compaction (or COW rewrite) reads THROUGH
  // the merge and materializes the deletes away. Positions identify
  // ANY row, so one format serves SQL DELETE/UPDATE/MERGE
  // (SupportsDelta) and the key-set [[CowOps.deleteMor]] alike.
  //
  // `chain` is one or more sidecar names (count = their
  // total cardinality; members are disjoint by construction — a scan
  // never produces an already-deleted row). The chain is what lets
  // EXECUTORS author the sidecars (each delta-writer task writes its
  // own per-file sorted-ordinal file) while the driver's commit handles
  // NAMES only — Iceberg's position-delete-file shape. Readers union
  // the members; once a file's chain would exceed [[DvPosChainMax]]
  // the commit folds it into one sidecar (a per-FILE bounded read —
  // positions per file <= rows per file — never proportional to the
  // DML's total deleted rows), so read-side sidecar opens stay O(1)
  // per file under repeated small DMLs.
  private[graft] val DvPosChainMax = 4

  private[sources] def checkSupported(schema: StructType): Unit =
    schema.fields.foreach { f =>
      // `_file` is the reserved metadata-column name: a DATA column of
      // that name would shadow the advertised metadata column and, once
      // dropped, leave stale encodings the metadata resolution would
      // mis-parse — reject it at every schema entry point
      require(f.name != FileMetaCol && f.name != PosMetaCol,
        s"'${f.name}' is a reserved metadata column name")
      // a zone map is keyed by its column's name: one named like a
      // reserved stat key would be read as that key
      require(!ManifestCodec.isReservedKey(f.name), s"column '${f.name}': " +
        "names starting with '#' are reserved for manifest stat keys " +
        "(RENAME COLUMN it to a name without '#')")
      f.dataType match {
        case BooleanType | IntegerType | LongType | DoubleType | StringType =>
        case other => throw new UnsupportedOperationException(
          s"ManifestTable does not support column ${f.name}: ${other.sql} " +
            "(supported: boolean, int, bigint, double, string)")
      }
    }
}

private[sources] class GTable(path: String, schema0: StructType,
    declaredPart: Seq[String] = Nil,
    travelVersion: Option[Long] = None,
    travelBranch: Option[String] = None,
    declaredProps: Map[String, String] = Map.empty)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = s"gtab($path)"
  override def schema(): StructType = schema0
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    declaredProps.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** `_file` — the data file a row lives in (see
    * [[ManifestTable.FileMetaCol]]). Nullable: Spark nullifies metadata
    * on updated rows inside row-level rewrites.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = ManifestTable.FileMetaCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        StringType
      // NON-nullable: SupportsDelta row-ID attributes must be (Spark
      // rejects nullable row IDs at rewrite time); the scan always
      // emits a value. The group-based COW write may null the column
      // on updated rows, but that projection's values are discarded —
      // only the data columns reach the writer.
      override def isNullable: Boolean = false
      override def comment(): String = "data file path of the row"
    }, new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = ManifestTable.PosMetaCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "0-based physical row ordinal within the data file"
    })
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ)

  /** SQL `DELETE FROM t WHERE ...` — metadata-first (see [[GTabDelete]]):
    * accepted when every filter translates; a pinned (time-travel /
    * branch-loaded) table refuses.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    travelVersion.isEmpty && travelBranch.isEmpty &&
      filters.forall(GTabDelete.translatable(_, schema0))
  override def deleteWhere(filters: Array[Filter]): Unit =
    GTabDelete.run(org.apache.spark.sql.SparkSession.active, path, filters)

  /** SQL `UPDATE` / `MERGE INTO` / non-translatable `DELETE` — the
    * group-based (copy-on-write) row-level rewrite ([[GTabRowLevelOperation]]).
    * Translatable DELETEs are rewritten BACK to the metadata path by
    * Spark's OptimizeMetadataOnlyDeleteFromTable, so [[GTabDelete]]'s
    * fast path is unaffected by this surface existing.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(travelVersion.isEmpty && travelBranch.isEmpty,
      "cannot run row-level DML through a version- or branch-pinned " +
        "table reference")
    // strategy per command via TBLPROPERTIES: copy-on-write (default,
    // group-based rewrite localized by runtime group filtering) or
    // merge-on-read (delta-based — position deletion vectors, zero
    // data files rewritten). See [[GTabMorOperation]] for the trade.
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    val modeKey = info.command() match {
      case Command.DELETE => GTabProps.DeleteMode
      case Command.UPDATE => GTabProps.UpdateMode
      case Command.MERGE => GTabProps.MergeMode
    }
    val mor = declaredProps.get(modeKey).contains(GTabProps.MergeOnRead)
    () =>
      if (mor) new GTabMorOperation(path, info.command())
      else new GTabRowLevelOperation(path, info.command())
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GTabScanBuilder(path,
      travelVersion.orElse(ManifestTable.pinnedVersion(options)),
      ManifestTable.filesOf(options),
      GTabStreamOpts(Option(options.get("startingVersion")),
        options.getBoolean("skipChangeCommits", false),
        Option(options.get("maxFilesPerTrigger")).map(_.toInt)),
      travelBranch.orElse(Option(options.get("branch"))).getOrElse(""))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(travelVersion.isEmpty && travelBranch.isEmpty,
      "cannot write through a version- or branch-pinned table reference")
    ManifestTable.checkSupported(info.schema())
    val opts = info.options()
    // catalog-declared TBLPROPERTIES drive the skipping structures on
    // every write through the table; an explicit write option overrides
    def declaredOrOpt(key: String): Option[String] =
      Option(opts.get(key)).orElse(declaredProps.get(key))
    val bloomCols = declaredOrOpt("bloomColumns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    bloomCols.foreach { c =>
      val f = info.schema().fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"bloomColumns names absent column '$c'"))
      require(GTabBloom.supported(f.dataType),
        s"bloomColumns: '$c' is ${f.dataType.sql} — blooms support " +
          "int/long/string")
    }
    // catalog-declared partitioning auto-applies; an explicit write
    // option overrides (e.g. a maintenance rewrite changing layout).
    // Several columns (comma-separated) give the date+hour-style layout.
    val partCols = Option(opts.get("partitionColumn"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(declaredPart)
    partCols.foreach { c =>
      val f = info.schema().fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"partitionColumn names absent column '$c'"))
      f.dataType match {
        case BooleanType | IntegerType | LongType | StringType =>
        case other => throw new IllegalArgumentException(
          s"partitionColumn '$c' is ${other.sql} — partition columns " +
            "support boolean, int, bigint, string (doubles are rejected: " +
            "Spark normalizes -0.0 == 0.0, their codec strings differ)")
      }
    }
    val ndvCols = declaredOrOpt("ndvColumns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    ndvCols.foreach { c =>
      val f = info.schema().fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"ndvColumns names absent column '$c'"))
      require(GTabBloom.supported(f.dataType),
        s"ndvColumns: '$c' is ${f.dataType.sql} — NDV sketches support " +
          "int/long/string")
    }
    // provenance override: restricted to the labels internal
    // maintenance writers use, validated HERE (before any executor
    // writes a file) — arbitrary caller-claimed labels would make the
    // audit column untrustworthy, and a bad token failing only at the
    // publish-time header require would surface after the data write
    val commitOp = Option(opts.get("commitOp")).getOrElse("")
    require(commitOp.isEmpty || GTabWriteBuilder.AllowedOps(commitOp),
      s"commitOp '$commitOp' is not an internal maintenance label " +
        s"(${GTabWriteBuilder.AllowedOps.mkString(", ")}) — history " +
        "provenance is set by the commit path, not by writer claims")
    new GTabWriteBuilder(path, info.schema(), info.queryId(), bloomCols,
      partCols, Option(opts.get("branch")).getOrElse(""),
      ndvCols, Option(opts.get("dataDir")), commitOp)
  }
}

private[sources] object GTabWriteBuilder {
  /** The only provenance labels a write OPTION may set — the two
    * internal writers that commit through the ordinary batch-write
    * path (ManifestTable.compact, the staged CTAS payload).
    */
  val AllowedOps: Set[String] = Set("compact", "ctas")
}

private[sources] class GTabWriteBuilder(path: String, schema: StructType,
    queryId: String, bloomCols: Seq[String] = Seq.empty,
    partCols: Seq[String] = Nil, ref: String = "",
    ndvCols: Seq[String] = Seq.empty,
    // no-rename commit mode: data files are BORN under this table
    // dir's data/ (write-once names, invisible until a manifest lists
    // them) instead of being staged-then-renamed — the write's own
    // manifest still publishes at `path`
    dataDir: Option[String] = None,
    // operation-provenance override for history() — maintenance writes
    // (compaction) label their commit instead of reading as "overwrite"
    commitOp: String = "")
    extends WriteBuilder with SupportsTruncate {
  private var keepPrevious = true
  override def truncate(): WriteBuilder = { keepPrevious = false; this }

  /** A partitioned write DECLARES its layout requirement instead of
    * hand-shuffling: Spark plans a clustered distribution + in-partition
    * sort on the partition column, so each writer task receives its
    * values as contiguous runs and rolls one single-valued file per run.
    * Strictness left at the default (true): the single-valued-file
    * invariant is what the read-side layout report stands on.
    */
  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    override def requiredDistribution(): Distribution =
      if (partCols.isEmpty) Distributions.unspecified()
      else Distributions.clustered(
        partCols.map(Expressions.identity).toArray[
          org.apache.spark.sql.connector.expressions.Expression])
    override def requiredOrdering(): Array[SortOrder] =
      partCols.map(c => Expressions.sort(Expressions.identity(c),
        SortDirection.ASCENDING)).toArray
    override def toBatch: BatchWrite =
      new GTabBatchWrite(path, schema, queryId, keepPrevious, bloomCols,
        partCols, ref, ndvCols, dataDir, commitOp)
    override def toStreaming: StreamingWrite = {
      require(dataDir.isEmpty,
        "dataDir is a batch staging option, not a streaming one")
      new GTabStreamingWrite(path, schema, queryId, keepPrevious, bloomCols,
        partCols, ref, ndvCols)
    }
  }
}

/** Streaming epochs are manifest versions: each epoch's files append (or
  * replace, in complete/truncate mode) under one atomic manifest publish
  * that also records the epoch id — so a checkpoint-recovery replay of an
  * already-committed epoch is recognized INSIDE the same atomic swap and
  * dropped. Exactly-once table state from at-least-once epoch delivery,
  * with no side markers (contrast DedupIngest's marker files: here the
  * pointer and the dedup ledger are one file).
  */
private[sources] class GTabStreamingWrite(path: String, schema: StructType,
    queryId: String, keepPrevious: Boolean,
    bloomCols: Seq[String] = Seq.empty,
    partCols: Seq[String] = Nil, ref: String = "",
    ndvCols: Seq[String] = Seq.empty)
    extends StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GTabStreamingWriterFactory(path, schema, queryId, FsMeta.confAsMap(),
      bloomCols, partCols, ndvCols)
  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    ManifestTable.commitVersion(path, schema,
      GTabCommits.entriesOf(messages), keepPrevious, epoch = epochId,
      ref = ref)
  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    GTabCommits.namesOf(messages).foreach(n =>
      FsMeta.deleteRecursive(s"$path/data/$n"))
}

private[sources] class GTabStreamingWriterFactory(path: String,
    schema: StructType, queryId: String, confMap: Map[String, String],
    bloomCols: Seq[String] = Seq.empty,
    partCols: Seq[String] = Nil, ndvCols: Seq[String] = Seq.empty)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val conf = new Configuration(false)
    confMap.foreach { case (k, v) => conf.set(k, v) }
    GTabWriters.create(path, schema,
      s"part-e$epochId-$partitionId-$taskId-$queryId", conf,
      bloomCols, partCols, ndvCols)
  }
}

/** A writer task's committed files (a partitioned writer commits one per
  * partition value run). */
private[sources] final case class GTabCommit(
    entries: Seq[ManifestTable.FileEntry]) extends WriterCommitMessage

private[sources] object GTabCommits {
  def entriesOf(messages: Array[WriterCommitMessage])
      : Seq[ManifestTable.FileEntry] =
    messages.toSeq.flatMap {
      case c: GTabCommit => c.entries
      case _ => Nil
    }
  def namesOf(messages: Array[WriterCommitMessage]): Seq[String] =
    entriesOf(messages).map(_.name)
}

private[sources] class GTabBatchWrite(path: String, schema: StructType,
    queryId: String, keepPrevious: Boolean,
    bloomCols: Seq[String] = Seq.empty,
    partCols: Seq[String] = Nil, ref: String = "",
    ndvCols: Seq[String] = Seq.empty, dataDir: Option[String] = None,
    commitOp: String = "")
    extends BatchWrite {
  private val writeDir = dataDir.getOrElse(path)
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GTabWriterFactory(writeDir, schema, queryId, FsMeta.confAsMap(),
      bloomCols, partCols, ndvCols)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    ManifestTable.commitVersion(path, schema,
      GTabCommits.entriesOf(messages), keepPrevious, ref = ref,
      op = commitOp)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GTabCommits.namesOf(messages).foreach(n =>
      FsMeta.deleteRecursive(s"$writeDir/data/$n"))
}

private[sources] class GTabWriterFactory(path: String, schema: StructType,
    queryId: String, confMap: Map[String, String],
    bloomCols: Seq[String] = Seq.empty,
    partCols: Seq[String] = Nil, ndvCols: Seq[String] = Seq.empty)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = {
    val conf = new Configuration(false)
    confMap.foreach { case (k, v) => conf.set(k, v) }
    // task id in the name makes speculative/retried attempts collision-free;
    // only the attempt whose commit message reaches BatchWrite.commit is
    // ever listed (useCommitCoordinator guarantees one winner per partition)
    GTabWriters.create(path, schema, s"part-$partitionId-$taskId-$queryId",
      conf, bloomCols, partCols, ndvCols)
  }
}

private[sources] object GTabWriters {
  /** One writer per task: single-file for an unpartitioned write,
    * file-per-value-run for a partitioned one. `stem` excludes the
    * extension (the partitioned writer suffixes a segment ordinal).
    */
  def create(dir: String, schema: StructType, stem: String,
      conf: Configuration, bloomCols: Seq[String], partCols: Seq[String],
      ndvCols: Seq[String] = Seq.empty)
      : DataWriter[InternalRow] =
    if (partCols.isEmpty)
      new GTabWriter(dir, schema, s"$stem.gtab", conf, bloomCols,
        ndvCols = ndvCols)
    else new GTabPartitionedWriter(dir, schema, stem, conf,
      bloomCols, partCols, ndvCols)
}

/** Rolls one [[GTabWriter]] segment per run of equal partition-column
  * values (the declared write ordering makes equal values contiguous,
  * but rolling on ANY change keeps the single-valued-per-file invariant
  * even for unsorted input — extra files, never wrong metadata). Each
  * segment records its value as a partition value of its entry.
  */
private[sources] class GTabPartitionedWriter(dir: String,
    schema: StructType, stem: String, conf: Configuration,
    bloomCols: Seq[String], partCols: Seq[String],
    ndvCols: Seq[String] = Seq.empty)
    extends DataWriter[InternalRow] {
  private val encs: Seq[InternalRow => String] = partCols.map { c =>
    val ix = schema.fieldIndex(c)
    val dt = schema.fields(ix).dataType
    (r: InternalRow) =>
      if (r.isNullAt(ix)) ManifestTable.Null
      else dt match {
        case BooleanType => String.valueOf(r.getBoolean(ix))
        case IntegerType => String.valueOf(r.getInt(ix))
        case LongType => String.valueOf(r.getLong(ix))
        case StringType =>
          ManifestTable.escape(r.getUTF8String(ix).toString)
        case other => throw new IllegalStateException(s"unreachable: $other")
      }
  }
  private var seq = 0
  private var cur: GTabWriter = _
  private var curKey: Seq[String] = _
  private val done =
    scala.collection.mutable.ListBuffer.empty[ManifestTable.FileEntry]

  override def write(row: InternalRow): Unit = {
    val k = encs.map(_(row))
    if (cur == null || k != curKey) {
      if (cur != null) done += cur.commitSegment()
      curKey = k
      cur = new GTabWriter(dir, schema, s"$stem-s$seq.gtab", conf,
        bloomCols,
        parts = partCols.zip(k).toMap,
        ndvCols = ndvCols)
      seq += 1
    }
    cur.write(row)
  }
  override def commit(): WriterCommitMessage = {
    if (cur != null) { done += cur.commitSegment(); cur = null }
    GTabCommit(done.toSeq)
  }
  override def abort(): Unit = {
    if (cur != null) { cur.abort(); cur = null }
    // executor-side: delete through THIS task's Hadoop conf, not the
    // driver-default one FsMeta carries
    done.foreach { c =>
      val hp = new HPath(s"$dir/data/${c.name}")
      hp.getFileSystem(conf).delete(hp, false): Unit
    }
  }
  override def close(): Unit = ()
}

private[sources] class GTabWriter(dir: String, schema: StructType,
    fileName: String, conf: Configuration,
    bloomCols: Seq[String] = Seq.empty,
    parts: Map[String, String] = Map.empty,
    ndvCols: Seq[String] = Seq.empty)
    extends DataWriter[InternalRow] {
  private val filePath = new HPath(s"$dir/data/$fileName")
  private val fs = filePath.getFileSystem(conf)
  fs.setWriteChecksum(false)
  private val out = fs.create(filePath, true)
  private val crc = new CRC32
  private var rows = 0L
  private var bytes = 0L

  // zone maps: per-NUMERIC-column running min/max (see FileEntry scaladoc
  // for why strings are excluded); all-null columns end absent
  private val statIx: Array[Int] = schema.fields.zipWithIndex.collect {
    case (f, i) if f.dataType == IntegerType || f.dataType == LongType ||
      f.dataType == DoubleType => i
  }
  // integral bounds tracked as Long, floating as Double — NOT a shared
  // Double (a Long above 2^53 rounded to Double can shrink the interval
  // and wrongly prune a file)
  private val statSeen = new Array[Boolean](statIx.length)
  private val statPoisoned = new Array[Boolean](statIx.length)
  private val statLoL = new Array[Long](statIx.length)
  private val statHiL = new Array[Long](statIx.length)
  private val statLoD = new Array[Double](statIx.length)
  private val statHiD = new Array[Double](statIx.length)
  private def trackStats(row: InternalRow): Unit = {
    var j = 0
    while (j < statIx.length) {
      val i = statIx(j)
      if (!row.isNullAt(i)) {
        schema.fields(i).dataType match {
          case DoubleType =>
            val v = row.getDouble(i)
            // a NaN POISONS the column's stats for this file: in Spark's
            // ordering NaN is greater than every double, so any finite hi
            // bound would wrongly prune files whose NaN rows match x > hi
            if (v.isNaN) statPoisoned(j) = true
            else {
              if (!statSeen(j) || v < statLoD(j)) statLoD(j) = v
              if (!statSeen(j) || v > statHiD(j)) statHiD(j) = v
              statSeen(j) = true
            }
          case dt =>
            val v = if (dt == IntegerType) row.getInt(i).toLong
              else row.getLong(i)
            if (!statSeen(j) || v < statLoL(j)) statLoL(j) = v
            if (!statSeen(j) || v > statHiL(j)) statHiL(j) = v
            statSeen(j) = true
        }
      }
      j += 1
    }
  }
  private def stats: FileStats = FileStats(
    zones = statIx.indices.collect {
      case j if statSeen(j) && !statPoisoned(j) =>
        val isD = schema.fields(statIx(j)).dataType == DoubleType
        schema.fields(statIx(j)).name -> (
          if (isD) Zone(statLoD(j).toString, statHiD(j).toString)
          else Zone(statLoL(j).toString, statHiL(j).toString))
    }.toMap,
    blooms = bloomIx.indices.map { j =>
      bloomCols(j) -> Sketch(GTabBloom.NumHashes, GTabBloom.encode(
        GTabBloom.fold(bloomWords(j), GTabBloom.bitsFor(rows))))
    }.toMap,
    ndvs = ndvIx.indices.map { j =>
      val hs = new Array[Long](ndvSets(j).size)
      val it = ndvSets(j).iterator()
      var i = 0
      while (it.hasNext) { hs(i) = it.next().longValue ^ Long.MinValue
        i += 1 }
      ndvCols(j) -> Sketch(ManifestTable.NdvK, GTabBloom.encode(hs))
    }.toMap,
    parts = parts, size = Some(bytes))

  // per-file KMV NDV sketches (ManifestTable.NdvK comment block): the k
  // smallest distinct hashes, kept in a TreeSet over SIGN-FLIPPED values
  // so natural order == unsigned hash order; nulls don't count (NDV is
  // a non-null distinct count, matching Spark's ColumnStat semantics)
  private val ndvIx: Array[Int] =
    ndvCols.map(c => schema.fieldIndex(c)).toArray
  private val ndvSets: Array[java.util.TreeSet[java.lang.Long]] =
    ndvIx.map(_ => new java.util.TreeSet[java.lang.Long]())
  private def trackNdv(row: InternalRow): Unit = {
    var j = 0
    while (j < ndvIx.length) {
      val i = ndvIx(j)
      if (!row.isNullAt(i)) {
        val h = schema.fields(i).dataType match {
          case IntegerType =>
            BloomUtil.mix64(row.getInt(i).toLong)
          case LongType =>
            BloomUtil.mix64(row.getLong(i))
          case _ => BloomUtil.hashString(row.getUTF8String(i).toString)
        }
        val flipped = java.lang.Long.valueOf(h ^ Long.MinValue)
        val s = ndvSets(j)
        if (s.size < ManifestTable.NdvK) { s.add(flipped); () }
        else if (flipped.longValue < s.last.longValue) {
          if (s.add(flipped)) { s.pollLast(); () }
        }
      }
      j += 1
    }
  }

  // per-file point-lookup blooms (GTabBloom scaladoc); nulls never set
  // bits — IsNull filters are not bloom-skippable. The keys go into a
  // MaxBits bitmap that commit folds down to the file's own size
  private val bloomIx: Array[Int] =
    bloomCols.map(c => schema.fieldIndex(c)).toArray
  private val bloomWords: Array[Array[Long]] =
    bloomIx.map(_ => new Array[Long](GTabBloom.MaxBits / 64))
  private def trackBloom(row: InternalRow): Unit = {
    var j = 0
    while (j < bloomIx.length) {
      val i = bloomIx(j)
      if (!row.isNullAt(i)) {
        val key = schema.fields(i).dataType match {
          case IntegerType => row.getInt(i).toLong
          case LongType => row.getLong(i)
          case _ => BloomUtil.hashString(row.getUTF8String(i).toString)
        }
        BloomUtil.set(bloomWords(j), key,
          GTabBloom.NumHashes)
      }
      j += 1
    }
  }

  private val getters: Array[InternalRow => String] =
    schema.fields.zipWithIndex.map { case (f, i) =>
      val g: InternalRow => String = f.dataType match {
        case BooleanType => r => String.valueOf(r.getBoolean(i))
        case IntegerType => r => String.valueOf(r.getInt(i))
        case LongType => r => String.valueOf(r.getLong(i))
        case DoubleType => r => String.valueOf(r.getDouble(i))
        case StringType => r => ManifestTable.escape(r.getUTF8String(i).toString)
        case other => throw new IllegalStateException(s"unreachable: $other")
      }
      (r: InternalRow) =>
        if (r.isNullAt(i)) ManifestTable.Null else g(r)
    }

  override def write(row: InternalRow): Unit = {
    val line = getters.map(_(row)).mkString("", "\t", "\n")
    val b = line.getBytes(StandardCharsets.UTF_8)
    crc.update(b)
    out.write(b)
    bytes += b.length
    trackStats(row)
    trackBloom(row)
    trackNdv(row)
    rows += 1
  }
  override def commit(): WriterCommitMessage = GTabCommit(Seq(commitSegment()))
  private[sources] def commitSegment(): ManifestTable.FileEntry = {
    out.close()
    ManifestTable.FileEntry(fileName, rows, crc.getValue,
      schema.fieldNames.toSeq, stats)
  }
  override def abort(): Unit = {
    try out.close() catch { case _: Exception => }
    fs.delete(filePath, false): Unit
  }
  override def close(): Unit = ()
}

// ---- read side: manifest-listed files, one partition per file ----

private[sources] class GTabScanBuilder(path: String, asOf: Option[Long],
    only: Option[Set[String]] = None,
    streamOpts: GTabStreamOpts = GTabStreamOpts(None, false),
    ref: String = "",
    onPlan: Option[(Long, Set[String]) => Unit] = None)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates {
  // a versionAsOf scan plans against that version's snapshot manifest —
  // same pruning, skipping, and metadata-count machinery, older file
  // list; a branch read resolves both through the branch's namespace
  private val manifest = {
    val m = asOf match {
      case Some(v) => ManifestTable.readManifestAsOf(path, v, ref)
      case None => ManifestTable.readManifest(path, ref).getOrElse(
        throw new IllegalArgumentException(
          if (ref.isEmpty) s"no committed manifest at $path"
          else s"no branch '$ref' at $path"))
    }
    only match {
      case None => m
      case Some(names) =>
        m.copy(inline = ManifestTable.filesNamed(m, names), shards = Nil)
    }
  }
  private var pruned: StructType = manifest.schema
  private var skipping: Array[Filter] = Array.empty
  private var exact: Array[Filter] = Array.empty
  private var sawFilters = false
  private var pushedCount = false

  override def pruneColumns(requiredSchema: StructType): Unit =
    pruned = requiredSchema

  /** File skipping plus exact row filtering. Range/equality/in
    * predicates on stats-carrying columns prune whole manifest entries
    * whose zone map or bloom cannot satisfy them (the Delta/Iceberg
    * data-skipping shape; with a range-clustered layout a selective
    * predicate reads O(matching files), not O(table)). The shapes
    * [[GTabExact]] handles are then evaluated by the reader itself, on
    * each row, and are NOT returned: the literal stays data in the scan,
    * so Spark plans no FilterExec and a new key compiles no new class.
    * Everything else stays residual. A row-level operation's scan
    * (`onPlan`) and a `files` read return every filter residual: a
    * group rewrite must see every row of the files it replaces.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    sawFilters = filters.nonEmpty
    // usability takes the UNION of specs any file records (partKeep is
    // per-file conservative), so a spec-evolved table still value-prunes
    // the files that carry the predicate's column as a partition key
    skipping = filters.filter(GTabSkip.usable(_, manifest.schema,
      ManifestTable.anyPartitionColumns(manifest)))
    if (onPlan.isEmpty && only.isEmpty)
      exact = filters.filter(GTabExact.handles(_, manifest.schema))
    filters.filterNot(exact.contains)
  }
  override def pushedFilters(): Array[Filter] = exact

  /** Metadata-only COUNT(*): the manifest already carries exact per-file
    * row counts (they double as the truncation check), so an unfiltered
    * ungrouped count is answered in O(1) without opening a data file.
    * Declined when any filter reached the scan — a residual filter means
    * the count must see rows — or for any other aggregate.
    */
  private def countOk(agg: Aggregation): Boolean =
    !sawFilters && agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions.head.isInstanceOf[CountStar] &&
      // manifest row counts are PHYSICAL; a deletion-vector file's
      // logical count needs the row-level merge — decline and scan
      // (compaction restores the metadata-count fast path)
      !(manifest.inline.exists(_.stats.hasDv) ||
        manifest.shards.exists(_.hasDv))
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    countOk(agg)
  override def pushAggregation(agg: Aggregation): Boolean = {
    if (countOk(agg)) { pushedCount = true; true } else false
  }

  override def build(): Scan =
    if (pushedCount) new GTabCountScan(path, manifest)
    else new GTabScan(path, manifest, pruned, skipping, exact.toSeq,
      FsMeta.confAsMap(), streamOpts, ref, onPlan)
}

/** Per-file BLOOM point-lookup skipping — the zone maps' complement:
  * range stats prune range predicates on CLUSTERED layouts, blooms prune
  * equality/IN predicates on ANY layout (including hash-scattered tables
  * where every file's [min,max] spans the full range) and on STRING
  * columns (which zone maps deliberately exclude). A definite bloom miss
  * proves the file holds no matching row; a positive proves nothing and
  * keeps the file — pruning is always conservative, exactness never
  * depends on it (BloomPrune's contract at the file level, Delta's bloom
  * index shape).
  *
  * Blooms ride INSIDE the existing per-file stats (`FileStats.blooms`,
  * stored under reserved `#` keys no column name may take): older
  * readers treat the entries as stats for a column no filter
  * references, and the manifest format needs no version bump. Written
  * only when the writer is asked (`.option("bloomColumns", "c1,c2")`,
  * int/long/string columns). Each file's bloom is sized from its own
  * row count ([[bitsFor]]: a power of two with at least 10 bits per row,
  * about 1% FPP with 6 hashes, capped at [[MaxBits]] — 16 KiB per file
  * and column, so files past ~13k rows see a higher FPP). Readers probe
  * whatever size a file holds, so files written at another size stay
  * readable.
  */
private[graft] object GTabBloom {
  val NumHashes = 6
  val BitsPerRow = 10
  val MaxBits: Int = 1 << 17

  /** The per-file size: the smallest power of two holding [[BitsPerRow]]
    * bits per row, within [64, [[MaxBits]]].
    */
  def bitsFor(rows: Long): Int = {
    val want = math.max(64L, math.min(MaxBits.toLong, rows * BitsPerRow))
    val p = java.lang.Long.highestOneBit(want)
    (if (p == want) p else p << 1).toInt
  }

  /** `words` OR-folded down to `bits` (a power of two dividing its size).
    * Bit positions are `h mod size`, and `(h mod 2^a) mod 2^b == h mod
    * 2^b` for b <= a, so the fold is exactly the bitmap a `bits`-sized
    * bloom would have built from the same keys.
    */
  def fold(words: Array[Long], bits: Int): Array[Long] = {
    val n = bits / 64
    val out = java.util.Arrays.copyOf(words, n)
    var i = n
    while (i < words.length) { out(i % n) |= words(i); i += 1 }
    out
  }

  def supported(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt == IntegerType || dt == LongType || dt == StringType

  /** Filter-literal → bloom key, honoring the writer's type dispatch;
    * None = unprobeable literal (never prune on it).
    */
  def keyOf(dt: org.apache.spark.sql.types.DataType, v: Any): Option[Long] =
    (dt, v) match {
      case (LongType, n: java.lang.Long) => Some(n.longValue)
      case (LongType, n: java.lang.Integer) => Some(n.longValue)
      case (IntegerType, n: java.lang.Integer) => Some(n.longValue)
      case (IntegerType, n: java.lang.Long)
        if n.longValue == n.intValue => Some(n.longValue)
      case (StringType, s: String) => Some(BloomUtil.hashString(s))
      case (StringType, s: org.apache.spark.unsafe.types.UTF8String) =>
        Some(BloomUtil.hashString(s.toString))
      case _ => None
    }

  def encode(words: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(words.length * 8)
    words.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  def decode(b64: String): Array[Long] = {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  /** Could file `e` hold a row with `c` equal to SOME of `vs`? True when
    * no bloom was written for `c` or a literal is unprobeable.
    */
  def mightMatch(e: ManifestTable.FileEntry, c: String, schema: StructType,
      vs: Seq[Any]): Boolean =
    e.stats.blooms.get(c).forall { case Sketch(k, b64) =>
      schema.fields.find(_.name == c).forall { f =>
        val words = decode(b64)
        // an unprobeable literal cannot prove a miss
        vs.exists(keyOf(f.dataType, _).forall(
          BloomUtil.mightContain(words, _, k)))
      }
    }
}

/** Conservative zone-map evaluation: `keep` answers "could this file
  * hold a matching row?" — unknown filter shapes, missing stats, and
  * unparseable literals all answer TRUE (never prune on uncertainty).
  * Bounds compare in exact BigDecimal arithmetic: integral stats stay
  * exact past 2^53 and double stats use the exact binary expansion, so
  * no rounding can shrink an interval and skip a matching file.
  */
private[graft] object GTabSkip {

  def usable(f: Filter, schema: StructType,
      partCols: Seq[String] = Nil): Boolean = f match {
    // equality/IN are additionally bloom-skippable on int/long/STRING
    // columns (keep() is conservative when a file carries no bloom),
    // and EXACTLY skippable on the partition column of a partitioned
    // table (any supported type, including strings and nulls)
    case EqualTo(c, v) => (numeric(c, schema) && lit(v).isDefined) ||
      bloomable(c, schema, Seq(v)) || partCols.contains(c)
    case EqualNullSafe(c, _) => partCols.contains(c)
    case GreaterThan(c, v) => numeric(c, schema) && lit(v).isDefined
    case GreaterThanOrEqual(c, v) => numeric(c, schema) && lit(v).isDefined
    case LessThan(c, v) => numeric(c, schema) && lit(v).isDefined
    case LessThanOrEqual(c, v) => numeric(c, schema) && lit(v).isDefined
    case In(c, vs) => (numeric(c, schema) && vs.nonEmpty &&
      vs.forall(v => v != null && lit(v).isDefined)) ||
      (vs.nonEmpty && vs.forall(v => v != null) && bloomable(c, schema, vs)) ||
      (vs.nonEmpty && partCols.contains(c))
    case IsNull(c) => partCols.contains(c)
    case IsNotNull(c) => partCols.contains(c)
    case _ => false
  }

  /** EXACT partition-value pruning: a file single-valued on `c`
    * (a partition value in its stats) is kept iff its value could satisfy the
    * predicate — unlike zone maps this covers strings and null
    * semantics, and the check is equality on the codec encoding, not an
    * interval. Unknown shapes/literals keep the file (conservative, as
    * everywhere in this object).
    */
  private def partKeep(e: ManifestTable.FileEntry, f: Filter,
      schema: StructType): Boolean = {
    def pv(c: String): Option[(String, DataType)] = e.stats.parts.get(c)
      .zip(schema.fields.find(_.name == c).map(_.dataType))
    def eq(c: String, v: Any): Boolean = pv(c) match {
      case Some((enc, dt)) =>
        ManifestTable.encodePartLiteral(v, dt) match {
          case Some(le) => enc == le
          case None => true
        }
      case None => true
    }
    f match {
      // SQL equality with a null literal matches no row; Spark does not
      // push such filters, so v is non-null here — but guard anyway
      case EqualTo(c, v) => v == null || eq(c, v)
      case EqualNullSafe(c, v) => eq(c, v)
      case In(c, vs) => pv(c) match {
        case Some(_) => vs.isEmpty || vs.exists(v => v != null && eq(c, v))
        case None => true
      }
      case IsNull(c) => pv(c).forall(_._1 == ManifestTable.Null)
      case IsNotNull(c) => pv(c).forall(_._1 != ManifestTable.Null)
      case _ => true
    }
  }

  private def bloomable(c: String, schema: StructType,
      vs: Seq[Any]): Boolean =
    schema.fields.find(_.name == c).exists(f =>
      GTabBloom.supported(f.dataType) &&
        vs.forall(v => GTabBloom.keyOf(f.dataType, v).isDefined))

  private def numeric(c: String, schema: StructType): Boolean =
    schema.fields.find(_.name == c).exists(f =>
      f.dataType == IntegerType || f.dataType == LongType ||
        f.dataType == DoubleType)

  private def lit(v: Any): Option[BigDecimal] = v match {
    case n: java.lang.Integer => Some(BigDecimal(n.intValue))
    case n: java.lang.Long => Some(BigDecimal(n.longValue))
    case n: java.lang.Short => Some(BigDecimal(n.intValue))
    case n: java.lang.Byte => Some(BigDecimal(n.intValue))
    case n: java.lang.Double if !n.isNaN =>
      Some(BigDecimal(new java.math.BigDecimal(n.doubleValue)))
    case n: java.lang.Float if !n.isNaN =>
      Some(BigDecimal(new java.math.BigDecimal(n.doubleValue)))
    case n: java.math.BigDecimal => Some(BigDecimal(n))
    case n: BigDecimal => Some(n)
    case _ => None
  }

  def keep(e: ManifestTable.FileEntry, filters: Seq[Filter],
      schema: StructType): Boolean =
    filters.forall(f => keepOne(e, f, schema) && partKeep(e, f, schema))

  private def bounds(e: ManifestTable.FileEntry, c: String,
      schema: StructType): Option[(BigDecimal, BigDecimal)] =
    e.stats.zones.get(c).flatMap { case Zone(lo, hi) =>
      schema.fields.find(_.name == c).map(_.dataType) match {
        case Some(DoubleType) =>
          val (l, h) = (lo.toDouble, hi.toDouble)
          // an infinite bound has no BigDecimal form; a ±Infinity row
          // makes the file unboundable on that side — don't prune on it
          if (l.isInfinite || h.isInfinite) None
          else Some((BigDecimal(new java.math.BigDecimal(l)),
            BigDecimal(new java.math.BigDecimal(h))))
        case Some(IntegerType) | Some(LongType) =>
          Some((BigDecimal(lo.toLong), BigDecimal(hi.toLong)))
        case _ => None
      }
    }

  private def keepOne(e: ManifestTable.FileEntry, f: Filter,
      schema: StructType): Boolean = f match {
    // equality/IN: zone-map range check AND bloom check — both
    // conservative, so their conjunction is too
    case EqualTo(c, v) => check(e, c, schema, v)(
      (lo, hi, x) => lo <= x && x <= hi) &&
      GTabBloom.mightMatch(e, c, schema, Seq(v))
    case GreaterThan(c, v) => check(e, c, schema, v)((_, hi, x) => hi > x)
    case GreaterThanOrEqual(c, v) =>
      check(e, c, schema, v)((_, hi, x) => hi >= x)
    case LessThan(c, v) => check(e, c, schema, v)((lo, _, x) => lo < x)
    case LessThanOrEqual(c, v) =>
      check(e, c, schema, v)((lo, _, x) => lo <= x)
    case In(c, vs) => vs.exists(v => check(e, c, schema, v)(
      (lo, hi, x) => lo <= x && x <= hi)) &&
      GTabBloom.mightMatch(e, c, schema, vs)
    case _ => true
  }

  private def check(e: ManifestTable.FileEntry, c: String,
      schema: StructType, v: Any)(
      p: (BigDecimal, BigDecimal, BigDecimal) => Boolean): Boolean =
    (bounds(e, c, schema), lit(v)) match {
      case (Some((lo, hi)), Some(x)) => p(lo, hi, x)
      case _ => true
    }
}

/** Exact in-scan predicates: the top-level filters [[GTabReader]]
  * evaluates itself on a line's split fields, before it parses the other
  * columns or builds the row. Handled: `=`, `IN`, `<`, `<=`, `>`, `>=`
  * with non-null literals of the column's own type, and `IS NOT NULL`,
  * on int, long and binary-collation string columns. Strings compare as
  * UTF-8 bytes, as Spark's binary collation does. Doubles stay residual:
  * Spark's NaN and -0.0 rules are not Java's. A null value, or a file
  * written before the column existed, satisfies none of them, as in SQL.
  */
private[graft] object GTabExact {

  def handles(f: Filter, schema: StructType): Boolean = f match {
    case EqualTo(c, v) => lit(schema, c, v).isDefined
    case LessThan(c, v) => lit(schema, c, v).isDefined
    case LessThanOrEqual(c, v) => lit(schema, c, v).isDefined
    case GreaterThan(c, v) => lit(schema, c, v).isDefined
    case GreaterThanOrEqual(c, v) => lit(schema, c, v).isDefined
    case In(c, vs) => vs.nonEmpty && vs.forall(lit(schema, c, _).isDefined)
    case IsNotNull(c) => typeOf(schema, c).isDefined
    case _ => false
  }

  private def typeOf(schema: StructType, c: String): Option[DataType] =
    schema.fields.find(_.name == c).map(_.dataType)
      .filter(dt => dt == IntegerType || dt == LongType || dt == StringType)

  /** A literal as the reader compares it: Long for int and long columns,
    * UTF8String for strings; None for any other literal type.
    */
  private def lit(schema: StructType, c: String, v: Any): Option[Any] =
    (typeOf(schema, c), v) match {
      case (Some(IntegerType), n: java.lang.Integer) => Some(n.longValue)
      case (Some(LongType), n: java.lang.Long) => Some(n.longValue)
      case (Some(StringType), s: String) => Some(UTF8String.fromString(s))
      case _ => None
    }

  /** Handled filters `fs` as one test over a line's fields, for a file
    * whose columns are `cols`.
    */
  def compile(fs: Seq[Filter], schema: StructType,
      cols: Seq[String]): Array[String] => Boolean = {
    val tests = fs.map { f =>
      val c = f.references.head
      val ix = cols.indexOf(c)
      val test: String => Boolean = typeOf(schema, c).get match {
        case StringType =>
          val p = pred[UTF8String](f, schema, _.binaryCompare(_))
          raw => p(UTF8String.fromString(ManifestTable.unescape(raw)))
        case _ =>
          val p = pred[Long](f, schema, java.lang.Long.compare)
          raw => p(java.lang.Long.parseLong(raw))
      }
      (parts: Array[String]) => ix >= 0 && {
        val raw = parts(ix)
        raw != ManifestTable.Null && test(raw)
      }
    }.toArray
    parts => {
      var i = 0
      while (i < tests.length && tests(i)(parts)) i += 1
      i == tests.length
    }
  }

  private def pred[T](f: Filter, schema: StructType,
      cmp: (T, T) => Int): T => Boolean = {
    def l(c: String, v: Any): T = lit(schema, c, v).get.asInstanceOf[T]
    f match {
      case EqualTo(c, v) => val x = l(c, v); cmp(_, x) == 0
      case LessThan(c, v) => val x = l(c, v); cmp(_, x) < 0
      case LessThanOrEqual(c, v) => val x = l(c, v); cmp(_, x) <= 0
      case GreaterThan(c, v) => val x = l(c, v); cmp(_, x) > 0
      case GreaterThanOrEqual(c, v) => val x = l(c, v); cmp(_, x) >= 0
      case In(c, vs) => val xs = vs.toSet.map(l(c, _: Any)); xs.contains
      case IsNotNull(_) => _ => true
      case other => throw new IllegalStateException(s"unhandled: $other")
    }
  }
}

/** One-row scan answering an unfiltered COUNT(*) from manifest metadata. */
private[sources] class GTabCountScan(path: String,
    manifest: ManifestTable.Manifest) extends Scan with Batch {
  // root metadata alone (inline rows + shard row sums) — zero decodes
  private val n = manifest.nRows
  override def readSchema(): StructType =
    StructType(Seq(StructField("agg0", LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"GTabCountScan $path v${manifest.version} ManifestCount: $n"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GTabPartition("", 1, 0))
  override def createReaderFactory(): PartitionReaderFactory =
    new SingleRowReaderFactory(Array(n))
}

/** `posDv`: the paths of the position-vector sidecars (the `#dvp`
  * chain) whose ordinals this file's read must skip.
  */
private[sources] final case class GTabPartition(file: String, rows: Long,
    crc: Long, cols: Seq[String] = Nil,
    posDv: Seq[String] = Nil) extends InputPartition

/** The V2-Predicate → V1 Filter conversion for the shapes runtime
  * pruning pushes (IN / equality over a column and literals, AND/OR
  * composites) — anything else converts to None and prunes nothing
  * (conservative, as everywhere in the skipping stack). The prune
  * OUTCOME is recorded per scan ([[GTabScan.lastPruneRecord]]): runtime
  * pruning happens between optimization and execution, where no plan
  * string can observe it, and a global record would let two concurrent
  * scans clobber each other's counts.
  */
private[graft] object GTabRuntime {

  import org.apache.spark.sql.connector.expressions.{Expression => V2Expr,
    Literal => V2Literal, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.{
    Predicate => V2Predicate}

  private def literalOf(e: V2Expr): Option[Any] = e match {
    case l: V2Literal[_] => Some(l.value match {
      case u: UTF8String => u.toString
      case v => v
    })
    case _ => None
  }
  private def refOf(e: V2Expr): Option[String] = e match {
    case r: NamedReference if r.fieldNames().length == 1 =>
      Some(r.fieldNames()(0))
    case _ => None
  }
  def toV1(p: V2Predicate): Option[Filter] = p.name() match {
    case "IN" =>
      val cs = p.children()
      for {
        c <- if (cs.nonEmpty) refOf(cs(0)) else None
        vs <- Some(cs.drop(1).map(literalOf))
          .filter(_.forall(_.isDefined))
      } yield In(c, vs.map(_.get))
    case "=" =>
      val cs = p.children()
      if (cs.length != 2) None
      else for (c <- refOf(cs(0)); v <- literalOf(cs(1)))
        yield EqualTo(c, v)
    case "AND" =>
      val cs = p.children()
      if (cs.length != 2) None
      else for {
        l <- cs(0) match { case q: V2Predicate => toV1(q); case _ => None }
        r <- cs(1) match { case q: V2Predicate => toV1(q); case _ => None }
      } yield And(l, r)
    case "OR" =>
      val cs = p.children()
      if (cs.length != 2) None
      else for {
        l <- cs(0) match { case q: V2Predicate => toV1(q); case _ => None }
        r <- cs(1) match { case q: V2Predicate => toV1(q); case _ => None }
      } yield Or(l, r)
    case _ => None
  }
}

/** All of one partition value's files as ONE input partition, its key
  * reported via [[HasPartitionKey]] — the unit Spark's key-grouped
  * planning aligns across the two sides of a storage-partitioned join.
  */
private[sources] final case class GTabGroupPartition(
    parts: Seq[GTabPartition], key: InternalRow)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

private[graft] class GTabScan(path: String,
    manifest: ManifestTable.Manifest, pruned: StructType,
    skipping: Seq[Filter], exact: Seq[Filter], confMap: Map[String, String],
    streamOpts: GTabStreamOpts = GTabStreamOpts(None, false),
    ref: String = "",
    onPlan: Option[(Long, Set[String]) => Unit] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  // LAZY: a scan consumed as a micro-batch stream never plans a batch
  // file set — eager planning would decode every shard per stream
  // restart for nothing (batch paths force it at first use)
  private lazy val kept = ManifestTable.planFiles(manifest,
    GTabSkip.keep(_, skipping, manifest.schema))
  override def readSchema(): StructType = pruned

  // ---- RUNTIME (dim-driven) file pruning — DPP for the manifest
  // table: Spark executes a selective join's build side first, pushes
  // its values back as IN predicates, and only then does this scan plan
  // its input partitions — so a fact⨝dim with a filtered dim reads
  // O(matching files) even though the fact-side literal set was unknown
  // at optimization time. The runtime predicates re-run the SAME
  // conservative zone-map/bloom skipping as static pushdown; exactness
  // never depends on it (rows are still join-filtered). Partitioned
  // scans advertise NO filterable attributes: their key-grouped layout
  // report must stay stable through planning (the SPJ contract), and
  // their files are already value-pruned statically.
  // null until first touched — initializing from `kept` here would
  // force full batch planning in the constructor, which a scan consumed
  // only as a micro-batch stream never needs
  @volatile private var runtimeKept: Seq[ManifestTable.FileEntry] = null
  private def runtimeKeptOrPlanned: Seq[ManifestTable.FileEntry] =
    { val rk = runtimeKept; if (rk == null) kept else rk }
  // per-scan test seam: (static-kept, runtime-kept) file counts of THIS
  // scan's last runtime prune — (0, 0) until filter() prunes something.
  // Scoped to the scan instance (specs fish it out of the executed
  // plan's BatchScanExec) so concurrent queries can't clobber it.
  @volatile private var pruneRecord: (Int, Int) = (0, 0)
  private[graft] def lastPruneRecord: (Int, Int) = pruneRecord
  // attributes resolve against the scan OUTPUT — advertise only the
  // pruned projection's columns. A ROW-LEVEL operation scan (onPlan
  // set) advertises ONLY `_file`: Spark's runtime group filtering
  // builds ONE struct-IN key over every advertised attribute, and a
  // multi-column struct can't drive file skipping — file identity
  // alone is the exact group key (what makes a sparse MERGE rewrite
  // O(touched files)).
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (partCols.nonEmpty) Array.empty
    else if (onPlan.isDefined &&
      pruned.fieldNames.contains(ManifestTable.FileMetaCol))
      Array(Expressions.column(ManifestTable.FileMetaCol))
    else pruned.fieldNames.map(Expressions.column)
  override def filter(
      predicates: Array[
        org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    val v1all = predicates.flatMap(GTabRuntime.toV1)
    def flat(f: Filter): Seq[Filter] = f match {
      case And(l, r) => flat(l) ++ flat(r)
      case o => Seq(o)
    }
    val flattened = v1all.flatMap(flat)
    // EXACT group pruning on the `_file` metadata column — what Spark's
    // row-level runtime GROUP FILTERING pushes (the matching-rows
    // subquery projects the operation's metadata attribute): file
    // identity needs no zone-map conservatism, keep exactly the named
    // files. This is the mechanism that localizes a sparse SQL MERGE on
    // a clustered table to O(touched files).
    val fileSets = flattened.collect {
      case In(c, vs) if c == ManifestTable.FileMetaCol &&
        vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        vs.map(_.asInstanceOf[String]).toSet
      case EqualTo(c, v: String) if c == ManifestTable.FileMetaCol =>
        Set(v)
    }
    val v1 = flattened.filter(GTabSkip.usable(_, manifest.schema))
    if (fileSets.nonEmpty || v1.nonEmpty) {
      if (fileSets.nonEmpty) {
        val keepPaths = fileSets.reduce(_ intersect _)
        runtimeKept = runtimeKeptOrPlanned.filter(f =>
          keepPaths.contains(s"$path/data/${f.name}"))
      }
      if (v1.nonEmpty)
        runtimeKept = runtimeKeptOrPlanned.filter(
          GTabSkip.keep(_, v1.toSeq, manifest.schema))
      // seam records against the STATIC baseline: Spark may deliver the
      // runtime predicates over several filter() calls
      pruneRecord = (kept.size, runtimeKept.size)
    }
  }

  // partitioned layout: kept files grouped by their partition value
  // TUPLE (codec encodings — distinct strings ⇔ distinct values for the
  // admitted types), sorted for deterministic planning. Derived from
  // the KEPT subset, not the whole manifest: on a spec-evolved table
  // (mixed layouts) a scan pruned to one spec's files regains the
  // key-grouped report for exactly what it reads, and a mixed scan
  // degrades to unknown — correctness never depends on the report.
  private lazy val partCols: Seq[String] =
    ManifestTable.partitionColumnsOfFiles(kept, manifest.schema)
  private lazy val groups: Seq[(Seq[String], Seq[ManifestTable.FileEntry])] =
    if (partCols.isEmpty) Nil
    else kept.groupBy(f => partCols.map(f.stats.parts)).toSeq
      .sortBy(_._1.mkString("\u0000"))

  /** The layout report that unlocks the storage-partitioned join: one
    * key-grouped partition per partition-value tuple over the identity
    * transforms of the partition columns. Unpartitioned tables (and
    * fully-pruned scans) report unknown.
    */
  override def outputPartitioning(): Partitioning =
    if (partCols.nonEmpty && groups.nonEmpty)
      new KeyGroupedPartitioning(
        partCols.map(Expressions.identity).toArray, groups.length)
    else new UnknownPartitioning(kept.size)

  /** Manifest-derived statistics for the optimizer, POST file pruning:
    * rows = live rows of the kept files (physical minus deletion-vector
    * cardinality), bytes = their recorded `#sz` sums scaled to the
    * pruned projection's share of the codec's row width. Without this
    * report Spark costs the relation at `spark.sql.defaultSizeInBytes`
    * (Long.MaxValue), so gtab joins would NEVER auto-broadcast — the
    * report is what lets a 1000-executor join plan a small dimension
    * gtab as a broadcast instead of a two-sided 100 TB shuffle.
    */
  override def estimateStatistics(): Statistics = {
    val rows = ManifestTable.liveRows(kept)
    val fullW = math.max(1L, manifest.schema.fields
      .map(f => ManifestTable.colWidth(f.dataType)).sum)
    val prunedW = math.max(1L, pruned.fields
      .map(f => ManifestTable.colWidth(f.dataType)).sum)
    val raw = kept.map(ManifestTable.bytesOf(_, manifest.schema)).sum
    val scaled = (BigInt(raw) * prunedW / fullW).toLong
    // column-level NDV from the per-file KMV sketches (merged EXACTLY
    // over the kept files — post-pruning, like the row/byte counts):
    // Spark's transformV2Stats turns these into attributeStats, which
    // is what CBO join reordering over several gtabs keys on
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, scaled))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        lazyColStats
    }
  }

  /** Column-level stats from the kept files' sketches and zone maps,
    * computed ONCE per scan (Spark may ask for statistics several times
    * during planning; the KMV merges decode base64 per file per column).
    * NDV via the merged KMV sketches, min/max via the merged zone maps
    * — Spark's transformV2Stats turns both into attributeStats, which
    * is what CBO join reordering and range-selectivity estimation key
    * on.
    */
  private lazy val lazyColStats: java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    val rows = ManifestTable.liveRows(kept)
    val colStats = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    pruned.fields.foreach { f =>
      val ndv = ManifestTable.mergeNdv(kept, f.name)
        .map(n => math.min(n, math.max(1L, rows)))
      val mm = ManifestTable.mergeMinMax(kept, f.name, f.dataType)
      if (ndv.isDefined || mm.isDefined) {
        colStats.put(Expressions.column(f.name),
          new org.apache.spark.sql.connector.read.colstats
            .ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              ndv.map(java.util.OptionalLong.of)
                .getOrElse(java.util.OptionalLong.empty())
            override def min(): java.util.Optional[Object] =
              mm.map(x => java.util.Optional.of(x._1.asInstanceOf[Object]))
                .getOrElse(java.util.Optional.empty())
            override def max(): java.util.Optional[Object] =
              mm.map(x => java.util.Optional.of(x._2.asInstanceOf[Object]))
                .getOrElse(java.util.Optional.empty())
          })
      }
    }
    colStats
  }
  override def toBatch: Batch = this
  // set when the scan is consumed as a STREAM: description() must then
  // not force batch planning (MicroBatchScanExec renders it per batch —
  // forcing `kept` would decode every shard per hop for a log string)
  @volatile private var asStream = false
  override def description(): String =
    if (asStream)
      s"GTabScan $path v${manifest.version} streaming " +
        s"files=${manifest.nFiles} " +
        s"SkippingFilters: ${skipping.mkString("[", ", ", "]")} " +
        s"ReadSchema: ${pruned.simpleString}"
    else s"GTabScan $path v${manifest.version} " +
      s"files=${kept.size}/${manifest.nFiles} " +
      (if (partCols.isEmpty) ""
       else s"PartitionedBy: ${partCols.mkString(",")} " +
         s"groups=${groups.size} ") +
      s"SkippingFilters: ${skipping.mkString("[", ", ", "]")} " +
      s"ReadSchema: ${pruned.simpleString}"
  override def planInputPartitions(): Array[InputPartition] = {
    // the row-level operation's affected-group handshake: record what
    // this scan FINALLY plans (post static + runtime pruning) so the
    // replace-commit swaps exactly these files; idempotent under AQE
    onPlan.foreach(f => f(manifest.version,
      (if (partCols.nonEmpty && groups.nonEmpty)
        groups.flatMap(_._2) else runtimeKeptOrPlanned).map(_.name).toSet))
    if (partCols.nonEmpty && groups.nonEmpty) {
      val dts = partCols.map(c =>
        manifest.schema.fields(manifest.schema.fieldIndex(c)).dataType)
      groups.map { case (encs, fs) =>
        GTabGroupPartition(fs.map(ManifestTable.partitionOf(path, _)),
          InternalRow.fromSeq(encs.zip(dts).map { case (e, dt) =>
            ManifestTable.decodePartValue(e, dt) })): InputPartition
      }.toArray
    } else
      runtimeKeptOrPlanned.map(f =>
        ManifestTable.partitionOf(path, f): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GTabReaderFactory(manifest.schema, pruned, confMap, exact)
  override def toMicroBatchStream(checkpointLocation: String)
      : MicroBatchStream = {
    asStream = true
    require(ref.isEmpty, "streaming reads follow MAIN: a branch is an " +
      "audit staging area, not a stream source — fastForward it and " +
      "stream the table")
    new GTabMicroBatchStream(path, manifest.schema, pruned, skipping,
      exact, confMap, streamOpts)
  }
}

/** Micro-batch streaming READ of the manifest-committed table — Delta's
  * `readStream` shape: offsets are MANIFEST VERSIONS, each trigger emits
  * the files APPENDED in (start, end], and the source is append-only by
  * contract — a hop that rewrites or removes entries (COW merge/delete,
  * compaction, overwrite, MOR stats change) fails the stream with a
  * clear error unless `.option("skipChangeCommits", true)` skips those
  * hops (Delta's option of the same name; skipped deletes/rewrites are
  * NOT propagated — the documented trade). Entry identity is the
  * (name, crc, stats) triple, so a merge-on-read delete counts as a
  * change commit rather than silently re-emitting nothing.
  *
  * `startingVersion` controls the first batch: absent → the whole table
  * as of the first trigger (version 0 is the empty base); "latest" →
  * only data committed after the stream starts; a number v → data from
  * version v (inclusive) onward. Offsets checkpoint as plain version
  * numbers, so recovery resumes exactly; hops are diffed snapshot by
  * snapshot while retained, falling back to an endpoint diff when
  * intermediate snapshots were expired (same change-commit rules).
  * Honest limit, measured not assumed: Spark does NOT run
  * filter/column pushdown for streaming DSv2 relations (verified
  * against 4.1 — the builder's pushFilters/pruneColumns are never
  * called on this path), so each batch ships whole appended files and
  * filters apply row-level above the scan; the GTabSkip hook stays
  * wired for the day Spark pushes here.
  */
private[sources] final case class GTabStreamOpts(
    startingVersion: Option[String], skipChangeCommits: Boolean,
    maxFilesPerTrigger: Option[Int] = None)

private[sources] case class GTabOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

private[sources] class GTabMicroBatchStream(path: String, full: StructType,
    pruned: StructType, skipping: Seq[Filter], exact: Seq[Filter],
    confMap: Map[String, String], opts: GTabStreamOpts)
    extends MicroBatchStream with SupportsAdmissionControl {
  import ManifestTable._

  override def initialOffset(): Offset = GTabOffset(opts.startingVersion match {
    case Some(s) if s.equalsIgnoreCase("latest") =>
      math.max(readManifest(path).map(_.version).getOrElse(0L),
        snapshotVersions(path).lastOption.getOrElse(0L))
    case Some(v) => v.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"startingVersion must be a version number or 'latest', got '$v'")) - 1L
    case None => 0L
  })
  // MONOTONE by construction: the offset never goes backward even if a
  // concurrent publish makes the pointer transiently unreadable — the
  // CAS snapshots are create-once, so max(pointer, max snapshot, last
  // seen) is always a safe high-water mark (offset regression would
  // make Spark replan already-committed versions as fresh data)
  private var lastSeen = -1L
  override def latestOffset(): Offset = synchronized {
    val ptr = readManifest(path).map(_.version).getOrElse(0L)
    val snap = snapshotVersions(path).lastOption.getOrElse(0L)
    lastSeen = math.max(lastSeen, math.max(ptr, snap))
    GTabOffset(math.max(lastSeen, 0L))
  }

  /** Admission control: `maxFilesPerTrigger` bounds a batch by walking
    * version hops from the committed offset and stopping once the
    * accumulated appended-file count reaches the cap (version
    * granularity — a single huge commit still lands whole, the same
    * rule Delta applies). Change-commit enforcement stays in
    * planInputPartitions; here hops are only COUNTED (by name diff), so
    * admission never throws ahead of the batch that would. Expired
    * intermediate snapshots fall back to all-available.
    */
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val hi = latestOffset().asInstanceOf[GTabOffset].version
    opts.maxFilesPerTrigger match {
      case None => GTabOffset(hi)
      case Some(cap) =>
        val s0 = start.asInstanceOf[GTabOffset].version
        try {
          var v = s0
          var prev = manifestAt(s0)
          var files = 0L
          while (v < hi && files < cap) {
            val cur = manifestAt(v + 1)
            val prevNames = prev.files.map(_.name).toSet
            files += cur.files.count(f => !prevNames.contains(f.name))
            prev = cur
            v += 1
          }
          GTabOffset(v)
        } catch {
          case _: IllegalArgumentException => GTabOffset(hi)
        }
    }
  }
  override def deserializeOffset(json: String): Offset =
    GTabOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  private def manifestAt(v: Long): Manifest =
    if (v <= 0L) Manifest(0L, full, Nil, -1L) else readManifestAsOf(path, v)
  private def entryKey(f: FileEntry) = (f.name, f.crc, f.stats)

  private def hopAdds(from: Manifest, to: Manifest,
      label: String): Seq[FileEntry] = {
    // shared shards elide from both sides (identical entries cancel in
    // the key diff) — a streaming hop decodes O(changed shards)
    val (fromSide, toSide) = ManifestTable.changedFiles(from, to)
    val fromKeys = fromSide.map(entryKey).toSet
    val toKeys = toSide.map(entryKey).toSet
    val removed = fromSide.filterNot(f => toKeys.contains(entryKey(f)))
    if (removed.nonEmpty) {
      if (!opts.skipChangeCommits) throw new IllegalStateException(
        s"streaming read of $path is append-only, but $label rewrote or " +
          s"removed ${removed.size} file(s) (COW/compaction/overwrite/MOR " +
          "delete); restart with .option(\"skipChangeCommits\", true) to " +
          "skip change commits, or re-read the table in batch")
      Nil
    } else toSide.filterNot(f => fromKeys.contains(entryKey(f)))
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GTabOffset].version
    val e = end.asInstanceOf[GTabOffset].version
    if (e <= s) return Array.empty
    val added: Seq[FileEntry] =
      try (s + 1).to(e).foldLeft(
          (manifestAt(s), Vector.empty[FileEntry])) {
        case ((prev, acc), v) =>
          val cur = manifestAt(v)
          (cur, acc ++ hopAdds(prev, cur, s"version $v"))
      }._2
      catch {
        // an intermediate snapshot was expired: diff the endpoints (the
        // committed offset and the live manifest are both retained) —
        // same append-only rules, coarser change attribution
        case _: IllegalArgumentException =>
          hopAdds(manifestAt(s), manifestAt(e), s"versions ${s + 1}..$e")
      }
    val seen = scala.collection.mutable.Set.empty[String]
    added.filter(f => seen.add(f.name))
      .filter(GTabSkip.keep(_, skipping, full))
      .map(f => ManifestTable.partitionOf(path, f): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GTabReaderFactory(full, pruned, confMap, exact)
}

private[sources] class GTabReaderFactory(full: StructType,
    pruned: StructType, confMap: Map[String, String], exact: Seq[Filter])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val conf = new Configuration(false)
    confMap.foreach { case (k, v) => conf.set(k, v) }
    p match {
      case gp: GTabPartition => new GTabReader(gp, full, pruned, conf, exact)
      case gg: GTabGroupPartition =>
        new GTabGroupReader(gg.parts, full, pruned, conf, exact)
      case other => throw new IllegalStateException(
        s"unexpected partition type: ${other.getClass.getName}")
    }
  }
}

/** Sequential concatenation of one partition-value group's files — each
  * file keeps its own CRC/row-count integrity check and deletion-vector
  * merge (delegated to [[GTabReader]]).
  */
private[sources] class GTabGroupReader(parts: Seq[GTabPartition],
    full: StructType, pruned: StructType, conf: Configuration,
    exact: Seq[Filter]) extends PartitionReader[InternalRow] {
  private val it = parts.iterator
  private var cur: GTabReader = _
  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (!it.hasNext) return false
        cur = new GTabReader(it.next(), full, pruned, conf, exact)
      }
      if (cur.next()) return true
      cur.close()
      cur = null
    }
    false // unreachable
  }
  override def get(): InternalRow = cur.get()
  override def close(): Unit = if (cur != null) cur.close()
}

private[sources] class GTabReader(p: GTabPartition, full: StructType,
    pruned: StructType, conf: Configuration, exact: Seq[Filter])
    extends PartitionReader[InternalRow] {
  private val hp = new HPath(p.file)
  private val fs = { val f = hp.getFileSystem(conf)
    f.setVerifyChecksum(false); f }
  private val reader = new BufferedReader(
    new InputStreamReader(fs.open(hp), StandardCharsets.UTF_8))
  private val crc = new CRC32
  private var rows = 0L
  private var current: InternalRow = _

  // field index in THIS FILE's layout for each pruned column; -1 = the
  // file predates (or omitted) the column -> constant null (schema
  // evolution: resolution is by NAME, types come from the table schema);
  // -2 = the `_file` METADATA column -> constant file path (a DATA
  // column of that name, if a file carries one, wins by indexOf);
  // -3 = the `_pos` METADATA column -> the current line ordinal
  // (reserved since round 15 — no data column can shadow it)
  private val colIx: Array[Int] =
    pruned.fieldNames.map { n =>
      if (n == ManifestTable.PosMetaCol &&
        !full.fieldNames.contains(n)) -3
      else {
        val ix = p.cols.indexOf(n)
        if (ix < 0 && n == ManifestTable.FileMetaCol &&
          !full.fieldNames.contains(n)) -2
        else ix
      }
    }
  private val filePathUtf8 = UTF8String.fromString(p.file)
  private val parsers: Array[String => Any] = pruned.fieldNames.map { n =>
    // metadata col — normally constant (colIx -2), but a legacy file may
    // still physically carry a since-dropped data column of the name;
    // parse it as the string it was, never a raw java.lang.String into
    // an InternalRow
    if (!full.fieldNames.contains(n))
      (s: String) => UTF8String.fromString(ManifestTable.unescape(s))
    else full.fields(full.fieldIndex(n)).dataType match {
      case BooleanType => (s: String) => java.lang.Boolean.parseBoolean(s)
      case IntegerType => (s: String) => java.lang.Integer.parseInt(s)
      case LongType => (s: String) => java.lang.Long.parseLong(s)
      case DoubleType => (s: String) => java.lang.Double.parseDouble(s)
      case StringType =>
        (s: String) => UTF8String.fromString(ManifestTable.unescape(s))
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
  }

  // merge-on-read: the deletion vector's sorted physical line ordinals
  // to skip, loaded once per partition (binarySearch per row); a deleted
  // row still counts toward the PHYSICAL row count and CRC — integrity
  // checks see the file as written, the query just never receives the
  // row. A chain's members are disjoint, so a concat+sort of the
  // per-sidecar sorted runs is the exact union
  private val posDv: Array[Long] =
    if (p.posDv.isEmpty) Array.emptyLongArray
    else if (p.posDv.lengthCompare(1) == 0)
      ManifestTable.readDv(conf, p.posDv.head)
    else {
      val all = Array.concat(p.posDv.map(ManifestTable.readDv(conf, _)): _*)
      java.util.Arrays.sort(all)
      all
    }

  // the scan's exact predicates against THIS file's layout; null = none
  private val matches: Array[String] => Boolean =
    if (exact.isEmpty) null else GTabExact.compile(exact, full, p.cols)

  override def next(): Boolean = {
    while (true) {
      val line = reader.readLine()
      if (line == null) {
        // whole-file integrity: row count + CRC vs the manifest entry, so a
        // truncated or bit-flipped data file fails the read instead of
        // silently dropping rows (mirrors the manifest's own CRC contract)
        if (rows != p.rows) throw new IllegalStateException(
          s"${p.file}: read $rows rows, manifest says ${p.rows} — truncated?")
        if (crc.getValue != p.crc) throw new IllegalStateException(
          s"${p.file}: CRC mismatch vs manifest — corrupted data file")
        return false
      }
      crc.update(line.getBytes(StandardCharsets.UTF_8))
      crc.update('\n')
      rows += 1
      val ordinal = rows - 1 // 0-based physical position == `_pos`
      val posDeleted = posDv.length > 0 &&
        java.util.Arrays.binarySearch(posDv, ordinal) >= 0
      if (!posDeleted) {
        val parts = line.split("\t", -1)
        if (matches == null || matches(parts)) {
          val vals = new Array[Any](colIx.length)
          var j = 0
          while (j < colIx.length) {
            vals(j) =
              if (colIx(j) == -2) filePathUtf8
              else if (colIx(j) == -3) ordinal
              else if (colIx(j) < 0) null
              else {
                val raw = parts(colIx(j))
                if (raw == ManifestTable.Null) null else parsers(j)(raw)
              }
            j += 1
          }
          current = InternalRow.fromSeq(vals.toIndexedSeq)
          return true
        }
      }
    }
    false // unreachable
  }
  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}
