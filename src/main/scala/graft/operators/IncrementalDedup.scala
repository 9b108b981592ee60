package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.FsMeta

/** Incremental near-duplicate detection against a PERSISTED MinHash band
  * index — the shape a real 100 TB ingest pipeline needs: the historical
  * corpus is shingled and minhashed ONCE ([[buildIndex]]); every new batch
  * is then deduped against the index ([[nearDupsAgainstIndex]]) without
  * re-reading a byte of corpus text, and folded into the index
  * ([[appendBatch]]) so the next batch sees it. This lifts the reference's
  * only incremental artifact — shuffle files persisted across stages
  * (/root/reference/mr/coordinator.go:98-113) — to table granularity.
  *
  * The index is two BUCKETED parquet tables under `path`:
  *   - `bands/`    (id, band, bkey), bucketed by `bkey` into
  *     [[Params.numBuckets]] buckets: the LSH bucket keys, exactly the
  *     frame [[Dedup.lshCandidates]] self-joins — so an index row and a
  *     live batch row collide iff the full recompute would collide;
  *   - `shingles/` (id, sh), bucketed by `id`: the per-doc distinct
  *     shingle sets the exact-Jaccard verify consumes.
  *
  * WHY bucketed — the 100 TB probe cost model. The index is corpus-sized
  * (×32 band rows per doc); a probe that shuffles it is a full-corpus
  * shuffle PER INGEST BATCH. Bucketing by the join key makes the index
  * side of both probe joins exchange-free (its files ARE the shuffle
  * output, paid once at write — the same move as the reference persisting
  * map-side shuffle files that reducers then read by bucket,
  * mr/coordinator.go:98-113), and narrow-batch PRUNING skips index data
  * no batch row touches: a narrow batch reads a narrow slice of the
  * index, not all of it ([[nearDupsAgainstIndex]] pushes the batch's
  * distinct bkeys as a literal IN — bucket file pruning — when few, or
  * a broadcast semi-join when they fit [[MaxProbeKeys]]).
  *
  * Both tables carry the signature family's determinism: same
  * RollingHash31 base hash, same affine permutations, same band hashing —
  * which is what makes "batch vs index" provably hash-equal to "full
  * recompute, filtered to pairs touching the batch" (IncrementalDedupSpec;
  * driver oracle p46). Metadata (params.json, schema sidecars) goes
  * through [[FsMeta]] (Hadoop FileSystem), so the index lives on any
  * Spark-reachable store, not just local disk.
  *
  * Scale (100 TB): the batch phase touches (a) the batch's own text —
  * O(batch); (b) the index parquet — bucket-pruned, column-pruned scans of
  * precomputed keys, no shingling, no signature hashing, NO index-side
  * exchange; the heavy per-byte compute is paid once per document EVER,
  * not once per run. Appends publish bucket-correct parquet files — no
  * rewrite of existing index files (multiple files per bucket are fine;
  * compact periodically with [[compactIndex]] when small files or
  * duplicate rows accumulate — NOT with [[Compaction]], whose
  * plain-parquet rewrite would destroy the bucketing).
  */
object IncrementalDedup {

  /** MinHash family + verify threshold + index layout. Must match between
    * buildIndex and every later batch run — persisted alongside the index
    * as `params.json` and re-validated on read, because an index probed
    * with a different family silently finds nothing (and a different
    * bucket count would misroute the bucketed join).
    */
  final case class Params(shingleSize: Int = 3, numHashes: Int = 128,
      bands: Int = 32, threshold: Double = 0.8, numBuckets: Int = 32) {
    def json: String =
      s"""{"shingleSize":$shingleSize,"numHashes":$numHashes,""" +
        s""""bands":$bands,"threshold":$threshold,"numBuckets":$numBuckets}"""
  }

  object Params {
    private val Re =
      ("""\{"shingleSize":(\d+),"numHashes":(\d+),"bands":(\d+),""" +
        """"threshold":([0-9.Ee+-]+),"numBuckets":(\d+)\}""").r

    /** Inverse of [[Params.json]] — lets maintenance ops ([[compactIndex]])
      * recover the family from the index itself instead of trusting a
      * caller-supplied copy that could silently disagree with the files.
      */
    def parse(s: String): Params = s.trim match {
      case Re(ss, nh, b, t, nb) =>
        Params(ss.toInt, nh.toInt, b.toInt, t.toDouble, nb.toInt)
      case other => throw new IllegalArgumentException(
        s"not a persisted-index params.json payload: $other")
    }
  }

  /** Narrow-batch gate: a batch counts as narrow when it has at most
    * MaxProbeKeys / bands documents (so its band-key set is bounded by
    * the cap); only narrow batches get index pruning at all. Wide
    * batches touch every bucket anyway, so they skip the pruning AND
    * its driver-side key collection entirely; correctness never depends
    * on either (a key absent from the batch cannot join).
    *
    * Pruning is two-tier (round-17; the single tier used to be a
    * literal IN capped at 1024 keys):
    *   - ≤ [[InListMaxKeys]] distinct keys → a literal IN filter, the
    *     only form Spark's bucket pruning understands — the scan then
    *     skips whole bucket FILES. Catalyst's planning cost for an
    *     IN-literal is linear in its length (measured ~0.7 ms/key/query
    *     at sf0.1 — a 31k key list added >20 s per probe), so this tier
    *     is capped where the expression tree stays trivial and file
    *     pruning still has value relative to the bucket count.
    *   - otherwise → a BROADCAST LEFT-SEMI join against the batch's
    *     distinct keys: O(1) planning cost regardless of key count, rows
    *     pruned before the probe join. The broadcast exchange carries
    *     batch keys only — index bytes still never enter an exchange
    *     (the spec's 100 TB pin). Only the tier-1 probe collects keys to
    *     the driver (≤ InListMaxKeys + 1 rows).
    */
  val MaxProbeKeys: Int = 8192

  /** Literal-IN tier cap — see [[MaxProbeKeys]]. */
  val InListMaxKeys: Int = 64

  private def bandsPath(path: String) = s"$path/bands"
  private def shinglesPath(path: String) = s"$path/shingles"
  private def paramsPath(path: String) = s"$path/params.json"
  private def schemaPath(path: String, kind: String) = s"$path/_schema_$kind"

  /** Catalog name for the bucketed table at `path` — deterministic in the
    * path so a fresh session re-registers the same external table over the
    * same files (the catalog entry is session-local; the files + sidecar
    * schema/params are the durable truth).
    */
  private def tableId(prefix: String, path: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
    s"graft_${prefix}_$md"
  }

  /** Bucketed write: repartition by the bucket column first with the SAME
    * hash-mod layout bucketing uses, so each task holds exactly one
    * bucket's rows and writes one file — without it, every task writes a
    * file per bucket (tasks × buckets small files).
    */
  /** `preAligned = true` skips the repartition for inputs whose
    * partitioning already IS the bucket layout (a bucketed scan of the
    * same column and count — [[compactIndex]]): repartitioning there
    * would re-shuffle rows into the very layout they arrived in.
    */
  private def writeBucketed(df: DataFrame, mode: String, dataPath: String,
      table: String, bucketCol: String, n: Int,
      preAligned: Boolean = false): Unit = {
    val aligned = if (preAligned) df else df.repartition(n, col(bucketCol))
    aligned.write.format("parquet").mode(mode).option("path", dataPath)
      .bucketBy(n, bucketCol).saveAsTable(table)
  }

  /** The bucketed table at `dataPath`, registering the external-table
    * catalog entry if this session has not seen it (schema from the
    * sidecar DDL file — parquet inference would fail on a still-empty
    * index). refreshTable drops stale file listings after appends.
    */
  private def bucketedTable(spark: SparkSession, path: String, kind: String,
      dataPath: String, bucketCol: String, n: Int): DataFrame = {
    val table = tableId(kind, path)
    if (!spark.catalog.tableExists(table)) {
      val ddl = FsMeta.readString(schemaPath(path, kind))
      spark.sql(s"CREATE TABLE $table ($ddl) USING PARQUET " +
        s"CLUSTERED BY ($bucketCol) INTO $n BUCKETS LOCATION '$dataPath'")
    }
    spark.catalog.refreshTable(table)
    spark.table(table)
  }

  /** Shingle + minhash + band `docs` once and persist the index at `path`
    * (overwriting any previous index there). Runs two write jobs eagerly —
    * an index build IS a job, not a lazy plan.
    */
  def buildIndex(corpus: DataFrame, idCol: String, textCol: String,
      p: Params, path: String): Unit = {
    val spark = corpus.sparkSession
    val sh = Dedup.shingled(corpus, idCol, textCol, p.shingleSize)
    FsMeta.writeString(schemaPath(path, "sh"), sh.schema.toDDL)
    writeBucketed(sh, "overwrite", shinglesPath(path), tableId("sh", path),
      "id", p.numBuckets)
    // re-derive from the persisted shingles (not the in-memory frame) so
    // the signature job reads the column-pruned parquet instead of
    // re-shingling the corpus text a second time
    val persisted = bucketedTable(spark, path, "sh", shinglesPath(path),
      "id", p.numBuckets)
    val bands = Dedup.bandRows(
      Dedup.minhashSignatures(persisted, p.numHashes), p.numHashes, p.bands)
    FsMeta.writeString(schemaPath(path, "bands"), bands.schema.toDDL)
    writeBucketed(bands, "overwrite", bandsPath(path), tableId("bands", path),
      "bkey", p.numBuckets)
    FsMeta.writeString(paramsPath(path), p.json)
  }

  /** Fold a batch into the index so subsequent batches dedup against it
    * too — existing index files are never rewritten. The batch's shingle
    * and band rows are STAGED under `path/staging/<tag>/` (overwrite — a
    * replay rewrites the stage), then PUBLISHED into the live bucketed
    * directories by deterministic-name renames that skip
    * already-published files ([[graft.sources.StagedAppend]]). A replay
    * under the same `tag` — after a crash mid-stage, mid-publish, or
    * after publish but before the caller's batch marker — converges to
    * the SAME file set with zero duplicate index rows (spec-pinned in
    * IncrementalDedupSpec). `tag` names one logical batch: stable across
    * replays (a stream's `b<batchId>`, [[graft.streaming.DedupIngest]]),
    * fresh for every other append (a UUID).
    *
    * The staged writes repartition on the bucket columns with the
    * index's bucket count — the same hash-mod layout `bucketBy` uses —
    * so each published file is bucket-correct and carries its bucket id
    * in the published name where the bucketed reader parses it; the
    * bucket-pruned, exchange-free probe contract is unchanged.
    */
  def appendBatch(batch: DataFrame, idCol: String, textCol: String,
      p: Params, path: String, tag: String): Unit = {
    requireSameParams(p, path)
    val stage = s"$path/staging/$tag"
    val sh = Dedup.shingled(batch, idCol, textCol, p.shingleSize)
    sh.repartition(p.numBuckets, col("id"))
      .write.mode("overwrite").parquet(s"$stage/sh")
    Dedup.bandRows(Dedup.minhashSignatures(sh, p.numHashes),
        p.numHashes, p.bands)
      .repartition(p.numBuckets, col("bkey"))
      .write.mode("overwrite").parquet(s"$stage/bands")
    // both tables fully staged before the first rename: a mid-stage
    // crash leaves only staging garbage, never a half-published table
    graft.sources.StagedAppend.publish(s"$stage/sh", shinglesPath(path),
      tag, bucketed = true)
    graft.sources.StagedAppend.publish(s"$stage/bands", bandsPath(path),
      tag, bucketed = true)
    FsMeta.deleteRecursive(stage)
  }

  private def requireSameParams(p: Params, path: String): Unit = {
    val stored = FsMeta.readString(paramsPath(path)).trim
    require(stored == p.json,
      s"index at $path was built with $stored, probed with ${p.json} — " +
        "a mismatched MinHash family finds nothing; rebuild or fix params")
  }

  /** Near-dup pairs TOUCHING `batch`: batch×index plus batch-internal,
    * exact-Jaccard verified — equals the full-corpus recompute restricted
    * to pairs with at least one batch member (canonical id_a < id_b).
    * The corpus side comes entirely from the persisted index; the plan
    * contains no scan of corpus text, no exchange anywhere above an index
    * scan, and bucket-prunes the band index to the batch's bkeys (all
    * three spec-asserted).
    *
    * Probe shape: the batch's banded rows are shuffled ONCE by bkey (the
    * bucketed index side needs no exchange — it is already laid out as the
    * join wants), joined against (a) the index for batch×corpus pairs and
    * (b) themselves for batch-internal pairs; the verify then looks up
    * shingle sets per pair side as `coalesce(batch, index)` left joins,
    * so the bucketed shingle table is likewise never shuffled.
    * SHUFFLE_HASH hints keep the planner from broadcasting a corpus-sized
    * index side and make the batch subtree one reused exchange.
    *
    * NARROW batches (≤ [[MaxProbeKeys]] / bands documents — the trickle-
    * ingest regime bucketing exists for: a small batch probing a huge
    * index) additionally get index pruning, two-tier per
    * [[MaxProbeKeys]]'s scaladoc: ≤ [[InListMaxKeys]] distinct keys →
    * a literal IN filter (bucket pruning — FileSourceScan reads only
    * the touched bucket FILES); beyond that → a broadcast left-semi
    * join against the batch's distinct keys (O(1) planning cost, rows
    * pruned before the probe join, index bytes still never enter an
    * exchange). The candidate pairs are materialized (localCheckpoint,
    * batch-bounded) and their doc ids prune the shingle table the same
    * two-tier way. A narrow probe therefore reads (tier 1) or streams
    * (tier 2) a small SLICE of the index, not all of it. Wide batches
    * skip pruning — a wide batch touches every bucket anyway.
    *
    * Ordering contract: run this BEFORE [[appendBatch]] for the same
    * batch — once the batch's ids are in the index, its rows sit on both
    * probe sides. (A replay that violates this after a crashed append is
    * still correct: self-pairs are excluded by id inequality and the
    * final dedup collapses repeats.)
    */
  def nearDupsAgainstIndex(spark: SparkSession, batch: DataFrame,
      idCol: String, textCol: String, p: Params, path: String): DataFrame = {
    requireSameParams(p, path)
    val bSh = Dedup.shingled(batch, idCol, textCol, p.shingleSize)
    val bBands = Dedup.bandRows(
      Dedup.minhashSignatures(bSh, p.numHashes), p.numHashes, p.bands)
    val maxProbeDocs = math.max(1, MaxProbeKeys / p.bands)
    val narrow =
      batch.select(idCol).limit(maxProbeDocs + 1).count() <= maxProbeDocs
    val iBandsAll = bucketedTable(spark, path, "bands", bandsPath(path),
      "bkey", p.numBuckets)
    val iBands =
      if (!narrow) iBandsAll
      else {
        // materialize the distinct keys ONCE (batch-bounded — the
        // narrow gate caps them at MaxProbeKeys): without the
        // checkpoint, the tier-choosing collect runs the banding job
        // and the tier-2 broadcast would run it a second time
        // (broadcast subtrees share no exchange reuse with the
        // shuffle subtree)
        val bkeys = bBands.select("bkey").distinct().transform(Materialize.cut)
        val few = bkeys.limit(InListMaxKeys + 1).collect().map(_.get(0))
        if (few.length <= InListMaxKeys)
          iBandsAll.filter(col("bkey").isin(few.toSeq: _*))
        else iBandsAll.join(broadcast(bkeys), Seq("bkey"), "left_semi")
      }
    // batch×index collisions: hint on the BATCH side so it is the hash
    // build side and the index is streamed (never broadcast, never
    // shuffled). least/greatest canonicalizes — a batch id may sort
    // before or after a corpus id.
    val cross = bBands.as("x").hint("SHUFFLE_HASH")
      .join(iBands.as("y"),
        col("x.bkey") === col("y.bkey") && col("x.id") =!= col("y.id"))
      .select(least(col("x.id"), col("y.id")).as("id_a"),
        greatest(col("x.id"), col("y.id")).as("id_b"))
    // batch-internal collisions: lshCandidates' symmetric self-join shape,
    // reusing the same banding subtree (one exchange, read again)
    val internal = bBands.as("x").hint("SHUFFLE_HASH")
      .join(bBands.as("y").hint("SHUFFLE_HASH"),
        col("x.bkey") === col("y.bkey") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    val cands0 = cross.unionByName(internal).distinct()
    val (cands, pruneSh): (DataFrame, DataFrame => DataFrame) =
      if (!narrow) (cands0, identity[DataFrame] _)
      else {
        // materialize the (batch-bounded) pair set once so the pairs'
        // doc ids can prune the shingle lookups; lineage-cut so the
        // banding subtree does not replan under the verify. Same
        // two-tier shape as the band pruning above: a literal IN only
        // while it bucket-prunes files cheaply, a broadcast semi-join
        // beyond that (the ids frame reads the checkpointed pairs, so
        // the broadcast costs no recompute).
        val c = cands0.transform(Materialize.cut)
        val idsDf = c
          .select(explode(array(col("id_a"), col("id_b"))).as("id"))
          .distinct()
        val few = idsDf.limit(InListMaxKeys + 1).collect().map(_.get(0))
        if (few.length <= InListMaxKeys)
          (c, (t: DataFrame) => t.filter(col("id").isin(few.toSeq: _*)))
        else
          (c, (t: DataFrame) =>
            t.join(broadcast(idsDf), Seq("id"), "left_semi"))
      }
    verifyAgainstIndex(spark, cands, bSh, pruneSh, p, path)
  }

  /** Exact-Jaccard verify where each pair side's shingle set is looked up
    * as `coalesce(batch, index)`: two LEFT joins per side instead of one
    * join against (index ∪ batch) — a union would destroy the index
    * table's bucketing and force a corpus-sized shuffle. The batch copy
    * wins the coalesce (relevant only in the crashed-append replay window,
    * where both exist and are identical). The trailing distinct() is
    * batch-bounded and collapses repeats from duplicate index rows (the
    * same docs appended under two tags).
    */
  private def verifyAgainstIndex(spark: SparkSession, cands: DataFrame,
      bSh: DataFrame, pruneSh: DataFrame => DataFrame, p: Params,
      path: String): DataFrame = {
    val iShAll = bucketedTable(spark, path, "sh", shinglesPath(path),
      "id", p.numBuckets)
    // narrow-batch probe: only shingle rows holding a candidate id are
    // read — a literal IN (bucket file pruning) or a broadcast semi-join
    // per the caller's tier choice (the ids are batch-bounded; a missing
    // filter is only a performance difference — ids outside the pair set
    // cannot join)
    val iSh = pruneSh(iShAll)
    def lookup(c: DataFrame, idName: String, tag: String): DataFrame =
      c.hint("SHUFFLE_HASH")
        .join(iSh.select(col("id").as(idName), col("sh").as(s"i_$tag")),
          Seq(idName), "left")
        .hint("SHUFFLE_HASH")
        .join(bSh.select(col("id").as(idName), col("sh").as(s"b_$tag"))
          .hint("SHUFFLE_HASH"), Seq(idName), "left")
        .withColumn(s"sh_$tag", coalesce(col(s"b_$tag"), col(s"i_$tag")))
        .drop(s"i_$tag", s"b_$tag")
    lookup(lookup(cands, "id_a", "a"), "id_b", "b")
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= p.threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .distinct()
  }

  /** Per-table parquet file counts before/after an index rewrite. */
  final case class IndexCompactionStats(bandFilesBefore: Long,
      bandFilesAfter: Long, shingleFilesBefore: Long, shingleFilesAfter: Long)

  /** Offline index maintenance: rewrite the index at `inPath` into a fresh
    * index at `outPath`, collapsing duplicate rows (the same docs
    * appended under two tags) and merging
    * each bucket's accumulated files into one — appends never rewrite
    * existing files, so a long-lived index accretes one file set per
    * batch, and every file costs a probe-side task and footer read.
    *
    * [[Compaction]] cannot do this job: its plain-parquet coalesce rewrite
    * would DESTROY the bucketed layout the exchange-free probe rides on.
    * This rewrite is the bucketed twin of that operator's "runs at scan
    * speed" contract: each table is read through its bucketed scan (one
    * task per bucket regardless of file count), distinct()'d — the
    * grouping keys contain the bucket column, so the aggregation needs no
    * exchange — and written back pre-aligned (each task holds exactly one
    * bucket, writes exactly one file). The whole compaction plans ZERO
    * Exchange nodes (spec-pinned in IncrementalDedupSpec).
    *
    * Crash-safe by construction: `outPath` is garbage until every file and
    * sidecar lands, and the input index is never touched — callers swap
    * paths (or point the next ingest at `outPath`) after this returns.
    * The family params are read from the INDEX's own params.json, not a
    * caller argument, so a compacted index can never disagree with its
    * source about the MinHash family.
    *
    * `dropIds` is the right-to-be-forgotten hook: deletion from an
    * append-only index IS a retention-filtered compaction — the listed
    * docs' shingle and band rows (their derived text features, the
    * content a deletion request actually covers) are excluded from the
    * rewrite, so the compacted index provably equals one built without
    * those docs (spec-pinned), and later probes can neither pair with
    * nor verify against them. The filter rides the same bucketed scans,
    * so the zero-exchange contract is unchanged. Sized for operator
    * requests (a driver-known id list, pushed as a literal filter);
    * corpus-scale purges take [[purgeIndex]], which never materializes
    * the id set on the driver.
    */
  def compactIndex(spark: SparkSession, inPath: String,
      outPath: String, dropIds: Seq[Long] = Nil): IndexCompactionStats = {
    require(inPath != outPath, "compactIndex writes a fresh index; " +
      "outPath must differ from inPath (the input is never rewritten)")
    val p = Params.parse(FsMeta.readString(paramsPath(inPath)))
    def parquetCount(dir: String): Long =
      FsMeta.listFiles(dir).count(_.endsWith(".parquet")).toLong
    def retained(df: DataFrame): DataFrame =
      if (dropIds.isEmpty) df
      else df.filter(!col("id").isin(dropIds: _*))
    val bandsBefore = parquetCount(bandsPath(inPath))
    val shBefore = parquetCount(shinglesPath(inPath))
    val sh = bucketedTable(spark, inPath, "sh", shinglesPath(inPath),
      "id", p.numBuckets)
    FsMeta.writeString(schemaPath(outPath, "sh"),
      FsMeta.readString(schemaPath(inPath, "sh")))
    writeBucketed(retained(sh).distinct(), "overwrite", shinglesPath(outPath),
      tableId("sh", outPath), "id", p.numBuckets, preAligned = true)
    val bands = bucketedTable(spark, inPath, "bands", bandsPath(inPath),
      "bkey", p.numBuckets)
    FsMeta.writeString(schemaPath(outPath, "bands"),
      FsMeta.readString(schemaPath(inPath, "bands")))
    writeBucketed(retained(bands).distinct(), "overwrite", bandsPath(outPath),
      tableId("bands", outPath), "bkey", p.numBuckets, preAligned = true)
    FsMeta.writeString(paramsPath(outPath),
      FsMeta.readString(paramsPath(inPath)).trim)
    IndexCompactionStats(bandsBefore, parquetCount(bandsPath(outPath)),
      shBefore, parquetCount(shinglesPath(outPath)))
  }

  /** DISTRIBUTED right-to-be-forgotten: rewrite the index at `inPath`
    * into `outPath` without the docs whose ids are in `dropIds` — a
    * DataFrame, never a driver list, so the drop set can be
    * corpus-scale (the GDPR/takedown regime [[compactIndex]]'s literal
    * `dropIds` explicitly does not cover).
    *
    * The 100 TB cost model is a bloom-split retention compaction
    * ([[BloomPrune.antiKeep]]'s shape, specialized to the bucketed
    * layout): a bitmap over the drop ids is built in one pass (partial
    * bitmaps OR-merged — the keys themselves never shuffle) and
    * broadcast; bloom-NEGATIVE index rows are provably retained (the
    * shared BloomUtil bit positions admit no false negatives) and flow
    * scan → filter → pre-aligned bucketed write with ZERO shuffle —
    * the corpus-sized branch never enters an exchange, exactly
    * [[compactIndex]]'s contract. Only the bloom-POSITIVE slice (true
    * drops + ~FPP of the index) pays an exact anti-join against the
    * drop set and a bucket-aligning repartition on the way back in, so
    * total shuffle volume is O(dropset + FPP·index), not O(index) —
    * spec-pinned by counting shuffle records across the whole purge
    * (PurgeSpec). Both branches re-read the index parquet (scan-speed,
    * column-pruned — the antiKeep trade, which beats shuffling every
    * row at any scale).
    *
    * The bitmap is sized `bitsPerKey · |dropIds|` capped at
    * [[BloomPrune.MaxBits]] (~256 MB): past ~200M drop ids at the
    * default 10 bits/key the FPP degrades gracefully — more rows take
    * the exact anti-join, correctness never moves. Result equality
    * with an index built fresh from the retained corpus is
    * spec-pinned, same as the literal path.
    */
  def purgeIndex(spark: SparkSession, inPath: String, outPath: String,
      dropIds: DataFrame, dropIdCol: String, bitsPerKey: Int = 10,
      numHashes: Int = 7): IndexCompactionStats = {
    // normalize + persist once; purgeNormalized does the work
    val drops = BloomPrune.normalizeDrops(dropIds, dropIdCol)
    try purgeNormalized(spark, inPath, outPath, drops, drops.count(),
      bitsPerKey, numHashes)
    finally drops.unpersist()
  }

  /** [[purgeIndex]] over an ALREADY-normalized drop frame (`__drop_id`
    * long, null-free, deduped, persisted — [[BloomPrune.normalizeDrops]]'
    * shape) with its count in hand: the entry IndexMaintenance takes so
    * the feed's delete set is normalized and persisted exactly once
    * across the tier gate and the purge.
    */
  private[operators] def purgeNormalized(spark: SparkSession,
      inPath: String, outPath: String, drops: DataFrame, nDrop: Long,
      bitsPerKey: Int = 10, numHashes: Int = 7): IndexCompactionStats = {
    require(inPath != outPath, "purgeIndex writes a fresh index; " +
      "outPath must differ from inPath (the input is never rewritten)")
    val p = Params.parse(FsMeta.readString(paramsPath(inPath)))
    def parquetCount(dir: String): Long =
      FsMeta.listFiles(dir).count(_.endsWith(".parquet")).toLong
    val bloom = BloomPrune.bloomFor(drops, nDrop, bitsPerKey, numHashes)
    val bandsBefore = parquetCount(bandsPath(inPath))
    val shBefore = parquetCount(shinglesPath(inPath))

    def purgeTable(kind: String, dataIn: String, dataOut: String,
        bucketCol: String): Unit = {
      val tbl = bucketedTable(spark, inPath, kind, dataIn, bucketCol,
        p.numBuckets)
      FsMeta.writeString(schemaPath(outPath, kind),
        FsMeta.readString(schemaPath(inPath, kind)))
      val (misses, survivors) = BloomPrune.antiKeepSplitWith(
        tbl, "id", bloom, drops, "__drop_id", numHashes,
        broadcastDim = nDrop <= BloomPrune.BroadcastDimMaxKeys)
      // definite misses: retained without any join, still one task per
      // bucket (the split preserves the bucketed scan's task layout),
      // so the distinct + write are exchange-free like compactIndex
      writeBucketed(misses.distinct(), "overwrite", dataOut,
        tableId(kind, outPath), bucketCol, p.numBuckets, preAligned = true)
      // survivors are the bloom FPs the exact anti-join cleared —
      // they re-align to their buckets (O(candidates) rows)
      writeBucketed(survivors.distinct(), "append", dataOut,
        tableId(kind, outPath), bucketCol, p.numBuckets)
    }

    try {
      purgeTable("sh", shinglesPath(inPath), shinglesPath(outPath), "id")
      purgeTable("bands", bandsPath(inPath), bandsPath(outPath), "bkey")
    } finally {
      // the bitmap fed four write jobs; in a long-lived ingest session
      // its blocks would otherwise pin executor storage until GC
      bloom.unpersist()
    }
    FsMeta.writeString(paramsPath(outPath),
      FsMeta.readString(paramsPath(inPath)).trim)
    IndexCompactionStats(bandsBefore, parquetCount(bandsPath(outPath)),
      shBefore, parquetCount(shinglesPath(outPath)))
  }
}
