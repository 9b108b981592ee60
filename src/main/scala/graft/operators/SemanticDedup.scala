package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Semantic deduplication (SemDeDup, Abbas et al. 2023) — near-dup
  * removal in EMBEDDING space, where the duplicates no lexical method
  * catches live (paraphrases, translations, templated rewrites), scoped
  * by k-means clustering so the pairwise stage is never corpus-quadratic
  * (north-star scope; the reference's nearest semantics is key-grouping,
  * /root/reference/mr/worker.go:139-155 — here the key is the cluster).
  *
  * The pipeline is the paper's: cluster -> pairwise cosine WITHIN each
  * cluster -> connected components over the >= threshold pairs -> keep
  * ONE doc per component, the one FARTHEST from its cluster centroid
  * (the paper's best-performing keep policy: the most extreme exemplar
  * carries the most information; ties to min id). Cross-cluster
  * near-dups are the method's deliberate recall trade — the clustering
  * exists precisely to not compare those — so `nlist = 1` degenerates to
  * EXACT global semantic dedup, which is what makes an exact SQL oracle
  * possible for p61 (the same fidelity move as the IVF index's
  * nprobe = nlist, p58); the spec covers the multi-cluster path with a
  * planted well-separated mixture where cluster-scoped == global.
  *
  * Scale (100 TB of embeddings): the quantizer is the ONE driver-side
  * object (O(nlist · dims), a parameter not a data size — AnnIndex's
  * collect contract); assignment + own-centroid distance are pure
  * per-row expressions over plan-literal centroids — no join and no
  * shuffle at scoring time; the pairwise stage is an equi-join on
  * (cell, block-pair id) so each task sees one block pair of ONE
  * cell — cost sum over cells of |c|^2 / blocks^2, bounded
  * by the largest cell, never n^2 (hot cells are the standard AQE
  * skew-join case); components run pointer jumping (O(log diameter)
  * rounds, edges never cross cells so components are cell-local); the
  * keep policy is TopKPerGroup k=1 — map-side-bounded argmax, no
  * WindowExec.
  */
object SemanticDedup {

  /** One row per embedding: (doc_id, group_id, quality, is_canonical) —
    * [[ConnectedComponents.canonicalDocs]]'s shape with quality = the
    * 6dp-rounded euclidean distance to the OWN cluster centroid, so
    * `is_canonical` marks SemDeDup's keeper (argmax distance, ties to
    * min id) and a keep-one dedup retains exactly the canonical rows.
    *
    * The 6dp round happens BEFORE the argmax: centroid coordinates are
    * float-summation artifacts (k-means reduces in tree order), and
    * ranking the rounded value is what keeps the keeper choice
    * engine-invariant — p48/p52's convention.
    */
  def dedupReport(embeddings: DataFrame, idCol: String, embCol: String,
      threshold: Double, nlist: Int = 1, blocks: Int = 16): DataFrame = {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    dedupReportWithCentroids(embeddings, idCol, embCol, threshold,
      fitCentroids(embeddings, idCol, embCol, nlist), blocks)
  }

  /** [[dedupReport]] against CALLER-SUPPLIED centroids — the 100 TB
    * entry point: at scale the quantizer is fit on a SAMPLE (or reused
    * from an existing [[AnnIndex]]), not on the full corpus, and this
    * overload is what lets that happen — the full-data pass only ever
    * scores against the centroids it is handed.
    */
  def dedupReportWithCentroids(embeddings: DataFrame, idCol: String,
      embCol: String, threshold: Double, centroids: Seq[Array[Double]],
      blocks: Int = 16): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val scored = withCellAndDist(embeddings, idCol, embCol, centroids)
    val pairs = inCellPairs(scored, threshold, blocks)
    ConnectedComponents.canonicalDocs(
      scored.select(col("vid"), col("dist")), "vid", pairs, "dist")
  }

  /** Near-dup pairs (id_a < id_b, 6dp cosine) restricted to same-cluster
    * pairs — exposed for telemetry and for specs that compare the
    * cluster-scoped pair set against the global one.
    */
  def semanticPairs(embeddings: DataFrame, idCol: String, embCol: String,
      threshold: Double, nlist: Int = 1, blocks: Int = 16): DataFrame = {
    val cents = fitCentroids(embeddings, idCol, embCol, nlist)
    inCellPairs(withCellAndDist(embeddings, idCol, embCol, cents),
      threshold, blocks)
  }

  /** k-means centroids as plain arrays, cell id = fit order. nlist = 1
    * is the global mean computed by a plain aggregation — k-means with
    * one cluster converges to exactly that, and p61's oracle computes
    * that UNROUNDED mean (a [[Clustering.lloyd]] round rounds centroids
    * to 6dp); nlist >= 2 is 10 Lloyd rounds. Either way the collect is
    * O(nlist · dims), a parameter not a data size.
    */
  private def fitCentroids(embeddings: DataFrame, idCol: String,
      embCol: String, nlist: Int): Seq[Array[Double]] = {
    if (nlist == 1) {
      val mean = embeddings
        .select(posexplode(col(embCol).cast("array<double>"))
          .as(Seq("i", "x")))
        .groupBy("i").agg(avg("x").as("c"))
        .orderBy("i").collect().map(_.getDouble(1))
      Seq(mean)
    } else Clustering.lloyd(embeddings, idCol, embCol, nlist, 10)._2
  }

  /** (vid, v, cell, dist): nearest-centroid cell and 6dp distance to it,
    * both PURE per-row expressions over plan-literal centroids — the
    * scoring pass neither joins nor shuffles. The argmin is
    * [[Clustering.argminCell]] (ties to the lower cell id) over the
    * UNROUNDED distances the 6dp `dist` is taken from.
    */
  private def withCellAndDist(embeddings: DataFrame, idCol: String,
      embCol: String, cents: Seq[Array[Double]]): DataFrame = {
    // round-19: native SqDistToAll replaces the interpreted
    // transform/zip_with/aggregate lambda stack — same index-ordered
    // sums (unrounded; the 6dp round below applies only to the selected
    // cell's sqrt), bit-identical assignment
    val dists = graft.functions.Fns.sqDistToAll(
      col(embCol).cast("array<double>"), cents, round6 = false)
    embeddings
      .select(col(idCol).cast("long").as("vid"), col(embCol).as("v"),
        dists.as("d2s"))
      .withColumn("cell", Clustering.argminCell(col("d2s")))
      .withColumn("dist",
        round(sqrt(element_at(col("d2s"), col("cell") + 1)), 6))
      .drop("d2s")
  }

  /** Blocked all-pairs WITHIN a cell: [[Similarity.cosineNearDupPairs]]'s
    * block-pair tiling with the cluster id added to the equi-join key, so
    * a task's frame is one block pair of one cell and cross-cell pairs
    * are never formed.
    */
  private def inCellPairs(scored: DataFrame, threshold: Double,
      blocks: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val blockPairs = (for { i <- 0 until blocks; j <- i until blocks }
      yield (i, j, i.toLong * blocks + j)).toDF("bi", "bj", "pid")
    val a = scored
      .select(col("vid").as("id_a"), col("v").as("va"), col("cell"),
        pmod(col("vid"), lit(blocks)).cast("int").as("bi"))
      .join(broadcast(blockPairs.select("bi", "pid")), Seq("bi"))
    val b = scored
      .select(col("vid").as("id_b"), col("v").as("vb"), col("cell"),
        pmod(col("vid"), lit(blocks)).cast("int").as("bj"))
      .join(broadcast(blockPairs.select("bj", "pid")), Seq("bj"))
    a.join(b, Seq("cell", "pid"))
      .filter(col("bi") < col("bj") || col("id_a") < col("id_b"))
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        round(Fns.cosineSimilarity(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
