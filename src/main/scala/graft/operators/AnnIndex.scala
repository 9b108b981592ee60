package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.sources.FsMeta

/** PERSISTED IVF ANN index — the similarity-search twin of
  * [[IncrementalDedup]]: the expensive global work (k-means coarse
  * quantization + corpus assignment) runs once at build time and lands
  * on disk; queries and appended batches pay only their own cost
  * against the stored layout.
  *
  * Layout under `path`:
  *   - `postings/` — parquet PARTITIONED BY cell id: a probe reading
  *     nprobe cells prunes to those directories at the SCAN
  *     (PartitionFilters — no job touches the other nlist − nprobe
  *     cells' files);
  *   - `centroids.json` + `params.json` — the coarse quantizer (nlist ×
  *     dims doubles; tiny) and the index parameters, via the Hadoop FS
  *     API (FsMeta) like every persistence operator here. Appends and
  *     probes REJECT a params mismatch instead of silently mixing
  *     index families (IncrementalDedup's contract).
  *
  * Metric discipline: cell ASSIGNMENT (build and append) is
  * [[Clustering.cellOf]], the expression every [[Clustering.lloyd]]
  * round assigns with, so an appended vector lands exactly where the
  * build would have put it; cell PROBE selection uses squared
  * euclidean distance too — the k-means training metric — so a query's
  * nprobe cells are the cells whose members the quantizer considers
  * closest. Final ranking inside
  * the probed cells is exact 6dp-rounded cosine (the corpus-wide
  * contract of the Similarity family). With nprobe = nlist the probe
  * is EXHAUSTIVE and the result provably equals brute-force top-k —
  * which is what the p58 oracle checks; recall at nprobe < nlist is
  * spec-measured.
  *
  * Scale design: build = one k-means over a sampled/full corpus + one
  * assignment pass + one partitioned write. Append = per-batch
  * assignment against plan-literal centroids, staged and published into
  * the existing partition dirs (postings are add-only; dedup/TTL is the
  * caller's policy). Probe = centroids are
  * O(nlist · dims) driver-side (the ONE collect, bounded by the
  * parameter, not the data), probed cell ids become partition-pruning
  * literals, and the per-cell join carries only probed slices. No
  * all-pairs node anywhere.
  */
object AnnIndex {

  final case class Params(nlist: Int = 16, dims: Int = 64)

  private def paramsJson(p: Params): String =
    s"""{"nlist": ${p.nlist}, "dims": ${p.dims}}"""

  private def centroidsJson(cents: Seq[Array[Double]]): String =
    cents.map(v => s"""[${v.mkString(",")}]""").mkString("[", ",", "]")

  /** The stored centroids, cell id = position. */
  private def readCentroids(path: String): Seq[Array[Double]] = {
    val raw = FsMeta.readString(s"$path/centroids.json").trim
    // [[a,b,...],[...]] — fixed shape written by us; split on "],["
    val inner = raw.stripPrefix("[").stripSuffix("]")
    inner.split("\\],\\[").map(
      _.replaceAll("[\\[\\]]", "").split(",").map(_.toDouble)).toSeq
  }

  private def checkParams(path: String, p: Params): Unit = {
    val stored = FsMeta.readString(s"$path/params.json")
    require(stored == paramsJson(p),
      s"index at $path was built with $stored, caller passed " +
        s"${paramsJson(p)} — refusing to mix index families")
  }

  /** (cell, nid, nv) postings of `df`, each row's cell by
    * [[Clustering.cellOf]] against `cents` — a per-row expression, so
    * assignment adds no join and no shuffle.
    */
  private def postingsOf(df: DataFrame, idCol: String, embCol: String,
      cents: Seq[Array[Double]]): DataFrame =
    df.select(Clustering.cellOf(col(embCol), cents).as("cell"),
      col(idCol).cast("long").as("nid"), col(embCol).as("nv"))

  /** Fit the coarse quantizer ([[Clustering.lloyd]], 10 rounds) and
    * write the whole index. An EAGER write job at call time — building
    * an index IS a job.
    */
  def buildIndex(corpus: DataFrame, idCol: String, embCol: String,
      p: Params, path: String): Unit = {
    val (_, cents) = Clustering.lloyd(corpus, idCol, embCol, p.nlist, 10)
    postingsOf(corpus, idCol, embCol, cents)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/postings")
    FsMeta.writeString(s"$path/centroids.json", centroidsJson(cents))
    FsMeta.writeString(s"$path/params.json", paramsJson(p))
  }

  /** Assign a new batch against the STORED centroids and append its
    * postings — no refit, no corpus rescan: the index contract. The
    * postings are STAGED under `path/staging/<tag>/` (overwrite — a
    * replay rewrites the stage), then PUBLISHED into the live
    * cell-partitioned directories by deterministic-name renames that
    * skip already-published files ([[graft.sources.StagedAppend]]), so
    * a replay under the same `tag` converges to the same file set with
    * zero duplicate postings. `tag` names one logical batch: stable
    * across replays (a stream's `b<batchId>`, [[graft.streaming.AnnIngest]]),
    * fresh for every other append (a UUID). The staged write
    * repartitions by cell (deterministic hash layout, and one file per
    * (task, cell) keeps publish renames bounded).
    */
  def appendBatch(batch: DataFrame, idCol: String, embCol: String,
      p: Params, path: String, tag: String): Unit = {
    checkParams(path, p)
    val stage = s"$path/staging/$tag"
    postingsOf(batch, idCol, embCol, readCentroids(path))
      // partition count pinned to the INDEX PARAMETER, never the session
      // default: a replay under a different spark.sql.shuffle.partitions
      // would otherwise renumber the staged tasks and break the
      // deterministic-rename dedup
      .repartition(p.nlist, col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$stage/postings")
    graft.sources.StagedAppend.publish(s"$stage/postings",
      s"$path/postings", tag, bucketed = false)
    FsMeta.deleteRecursive(stage)
  }

  /** Index maintenance: rewrite the index at `inPath` into a fresh index
    * at `outPath`, preserving the cell-partitioned layout partition
    * pruning depends on and collapsing the per-append file accretion to
    * one file set per cell (every posting file costs a probe-side task
    * and footer read — the same wear pattern
    * [[IncrementalDedup.compactIndex]] resets for the dedup index; the
    * generic [[Compaction]] would FLATTEN the cell directories and break
    * pruning). `dropIds` is the right-to-be-forgotten hook: the listed
    * vectors' postings are excluded from the rewrite, so the compacted
    * index provably equals one built from the retained vectors against
    * the SAME stored centroids (spec-pinned — deletion never refits the
    * quantizer, so surviving assignments cannot shift). Centroids and
    * params are copied verbatim; `outPath` is garbage until complete and
    * the input is never touched.
    */
  def compactIndex(spark: SparkSession, inPath: String, outPath: String,
      dropIds: Seq[Long] = Nil): Unit = {
    require(inPath != outPath, "compactIndex writes a fresh index; " +
      "outPath must differ from inPath (the input is never rewritten)")
    val postings0 = spark.read.parquet(s"$inPath/postings")
    val postings =
      if (dropIds.isEmpty) postings0
      else postings0.filter(!col("nid").isin(dropIds: _*))
    // one file per cell: repartition by the partition column so each
    // task writes exactly its own cell directory
    postings.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$outPath/postings")
    FsMeta.writeString(s"$outPath/centroids.json",
      FsMeta.readString(s"$inPath/centroids.json"))
    FsMeta.writeString(s"$outPath/params.json",
      FsMeta.readString(s"$inPath/params.json"))
  }

  /** DISTRIBUTED right-to-be-forgotten — the corpus-scale twin of
    * `compactIndex(dropIds)`, taking the drop set as a DataFrame so it
    * never materializes on the driver
    * ([[IncrementalDedup.purgeIndex]]'s design on the cell layout):
    * a bloom bitmap over the drop ids is broadcast; bloom-NEGATIVE
    * postings are provably retained (no false negatives) and rewrite
    * scan → filter → per-cell write with ZERO shuffle — each task's
    * rows already live in the cell directories it read, so the
    * corpus-sized branch keeps its file granularity and never enters
    * an exchange (the layout-collapsing compaction remains
    * [[compactIndex]]'s job). Only the bloom-positive slice (true
    * drops + ~FPP) pays the exact anti-join and a per-cell
    * repartition back in: shuffle volume O(dropset + FPP·index).
    * Centroids and params are copied verbatim — deletion never refits
    * the quantizer — so the purged index provably answers like one
    * built from the retained vectors against the same centroids
    * (spec-pinned, with the shuffle-records bound, in PurgeSpec).
    */
  def purgeIndex(spark: SparkSession, inPath: String, outPath: String,
      dropIds: DataFrame, dropIdCol: String, bitsPerKey: Int = 10,
      numHashes: Int = 7): Unit = {
    // normalize + persist once; purgeNormalized does the work
    val drops = BloomPrune.normalizeDrops(dropIds, dropIdCol)
    try purgeNormalized(spark, inPath, outPath, drops, drops.count(),
      bitsPerKey, numHashes)
    finally drops.unpersist()
  }

  /** [[purgeIndex]] over an ALREADY-normalized drop frame (`__drop_id`
    * long, null-free, deduped, persisted) with its count in hand — the
    * IndexMaintenance entry; see IncrementalDedup.purgeNormalized.
    */
  private[operators] def purgeNormalized(spark: SparkSession,
      inPath: String, outPath: String, drops: DataFrame, nDrop: Long,
      bitsPerKey: Int = 10, numHashes: Int = 7): Unit = {
    require(inPath != outPath, "purgeIndex writes a fresh index; " +
      "outPath must differ from inPath (the input is never rewritten)")
    val bloom = BloomPrune.bloomFor(drops, nDrop, bitsPerKey, numHashes)
    val postings = spark.read.parquet(s"$inPath/postings")
    try {
      val (misses, survivors) = BloomPrune.antiKeepSplitWith(
        postings, "nid", bloom, drops, "__drop_id", numHashes,
        broadcastDim = nDrop <= BloomPrune.BroadcastDimMaxKeys)
      misses.write.mode("overwrite").partitionBy("cell")
        .parquet(s"$outPath/postings")
      survivors.repartition(col("cell"))
        .write.mode("append").partitionBy("cell")
        .parquet(s"$outPath/postings")
    } finally bloom.unpersist()
    FsMeta.writeString(s"$outPath/centroids.json",
      FsMeta.readString(s"$inPath/centroids.json"))
    FsMeta.writeString(s"$outPath/params.json",
      FsMeta.readString(s"$inPath/params.json"))
  }

  /** Top-k cosine neighbors per query against the stored index, probing
    * each query's `nprobe` euclidean-nearest cells. The postings scan is
    * filtered to the union of probed cell ids (collected driver-side —
    * O(nlist), a parameter not a data size), so partition pruning reads
    * only those cell directories. nprobe = nlist ⇒ exact brute-force
    * equality (oracle-checked as p58).
    */
  def topKAgainstIndex(spark: SparkSession, queries: DataFrame,
      idCol: String, embCol: String, k: Int, nprobe: Int, p: Params,
      path: String): DataFrame = {
    checkParams(path, p)
    require(nprobe >= 1 && nprobe <= p.nlist,
      s"nprobe must be in [1, ${p.nlist}], got $nprobe")
    val qCells = probeCells(queries.select(col(idCol).cast("long").as("qid"),
      col(embCol).as("qv")), readCentroids(path), nprobe)
    val probedCells = qCells.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    rankProbed(qCells, spark.read.parquet(s"$path/postings")
      .filter(col("cell").isin(probedCells: _*)), k)
  }

  /** (qid, qv, cell): each query's `nprobe` nearest cells by squared
    * euclidean distance — the centroid table (nlist rows, a parameter)
    * is broadcast per query and [[graft.plans.TopKPerGroup]] keeps the
    * nprobe smallest (map-side heaps drop the rest BEFORE the exchange;
    * the probe plans pin window = 0 in PlanHygieneSpec). Exact-distance
    * ties break toward the smaller cell id.
    */
  private[operators] def probeCells(q: DataFrame,
      cents: Seq[Array[Double]], nprobe: Int): DataFrame = {
    val spark = q.sparkSession
    val centsDf = spark.createDataFrame(cents.zipWithIndex.map(_.swap))
      .toDF("cell", "centroid")
    // native SqDist, not a zip_with/aggregate fold: Spark runs lambdas
    // interpreted, this stays inside whole-stage codegen
    val dist = graft.functions.Fns.sqDist(
      col("qv").cast("array<double>"), col("centroid"))
    graft.plans.TopKPerGroup.topK(
        q.crossJoin(broadcast(centsDf)).withColumn("dist", dist),
        Seq("qid"), Seq(col("dist").asc, col("cell").asc), nprobe)
      .select("qid", "qv", "cell")
  }

  /** Top-k (qid, nid, cos, rank) of the probed `postings` (cell, nid, nv)
    * per query: exact 6dp cosine over each query's cells (`qCells` from
    * [[probeCells]]), self-matches excluded, ties to the lower nid.
    */
  private[operators] def rankProbed(qCells: DataFrame, postings: DataFrame,
      k: Int): DataFrame = {
    // null-safe on purpose: `=` would let Catalyst infer isnotnull(cell)
    // and push it, with ivfTopK's whole distance array, into the corpus
    // scan's filter; probed cells are never null, so the rows are equal
    val probes = qCells.withColumnRenamed("cell", "qcell")
    val scored = postings.join(broadcast(probes), col("cell") <=> col("qcell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(Fns.cosineSimilarity(col("qv"), col("nv")), 6).as("cos"))
      .dropDuplicates("qid", "nid")
    // rank WITHOUT WindowExec: TopKPerGroup prunes to k rows per query
    // with map-side heaps (partial filter before the exchange — a window
    // would shuffle and sort EVERY scored candidate), then the rank
    // numbers are minted from a per-query k-element array: collect the
    // survivors, comparator-sort (deterministic regardless of arrival
    // order), posexplode. The aggregate rides TopKPerGroup's existing
    // qid partitioning; the array is k elements — a parameter, not a
    // data size.
    val pruned = graft.plans.TopKPerGroup.topK(scored, Seq("qid"),
      Seq(col("cos").desc, col("nid").asc), k)
    val byRank = array_sort(
      collect_list(struct(col("cos"), col("nid"))),
      (a, b) => when(a("cos") > b("cos"), -1).when(a("cos") < b("cos"), 1)
        .when(a("nid") < b("nid"), -1).when(a("nid") > b("nid"), 1)
        .otherwise(0))
    pruned.groupBy("qid").agg(byRank.as("arr"))
      .select(col("qid"), posexplode(col("arr")))
      .select(col("qid"), col("col.nid").as("nid"), col("col.cos").as("cos"),
        (col("pos") + 1).cast("int").as("rank"))
  }
}
