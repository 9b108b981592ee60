package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Similarity search over embedding columns (`array<float>`).
  *
  * Scale design (100 TB): the brute-force path broadcasts the (small)
  * query set against the corpus — the corpus is never shuffled and the
  * scan streams through whole-stage codegen; cost is O(|corpus|·|queries|).
  * The LSH path buckets both sides with sign-random-projections so each
  * query only scores its bucket (plus 1-bit probes): the join is an
  * equi-join on bucket id — no cross product at any scale.
  */
object Similarity {

  /** Round-robin repartition of the corpus side to core-count tasks
    * before compute-dense scoring (round-18 optimization). Embedding
    * tables are compute-dense, not byte-dense: at bench scale the whole
    * corpus arrives as ONE parquet split (~1 MB), so a scoring stage
    * can run as a single task while the other cores idle — measured
    * 1.13 s of p34's 1.2 s in a 1-task stage. The guide's input-skew
    * remedy (§2.5: one unsplittable input, repartition right after the
    * read): the shuffle moves |corpus| narrow rows once, the scoring
    * fans out to defaultParallelism tasks — derived from cores, not a
    * constant. Downstream ranking is per-qid with a total-order
    * tiebreak, so row order never reaches results.
    *
    * Applied ONLY where an interleaved A/B proved it pays: the int8
    * path (quantizedTopK 1.48 -> 0.61 s at sf0.1 — quantize+integer-dot
    * is genuinely compute-bound). The float paths were measured at
    * parity or worse with the extra exchange (p09 0.58 -> 0.62, p35
    * 0.55 -> 0.64, lshTopK 0.77 -> 1.65 — their scoring stage is too
    * cheap at bench scale to amortize it) and keep the plain scan;
    * at cluster scale their scans are already split.
    */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Exact top-k cosine neighbors per query vector (excluding self).
    * Cosine is rounded to 6dp before ranking so ordering is stable across
    * engines; ties break by neighbor id.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val c = corpus.select(col("vec_id").as("nid"), col("embedding").as("nv"))
    val scored = c.join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(Fns.cosineSimilarity(col("qv"), col("nv")), 6).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic ±1 sign-random-projection buckets of an embedding —
    * one array<long> of all `tables` bucket ids per row, computed by the
    * native [[graft.functions.SignProjections]] expression (sign source:
    * MurmurHash3 of "t<t>:<p>:<d>"; NOT RollingHash31, whose low bit is
    * char-parity and collapses all tables into relabelings of one
    * partition). The old per-plane Column formulation expanded ~3,000
    * expression nodes, blew janino's 64 KB limit and ran interpreted;
    * this is a single per-row JVM call. `planes` <= 16 keeps buckets
    * dense enough to rerank.
    */
  private def bucketsCol(emb: String, planes: Int, tables: Int, dims: Int) =
    Fns.signProjections(col(emb), planes, tables, dims)

  /** Approximate top-k: LSH bucket join + exact cosine rerank in-bucket.
    * `tables` independent hash tables (differently-seeded plane sets) are
    * unioned — misses must happen in EVERY table, so recall compounds as
    * 1-(miss^tables) — and `probeBits` additionally searches every bucket
    * within that hamming distance of the query's bucket per table
    * (multiprobe). With the defaults each query scans a ~37/256 slice of
    * each of 6 tables (well under the corpus once bucket overlaps dedup)
    * vs brute force's 100%; on the adversarial uniform-random fixtures
    * (top-5 neighbors sit at cos ~0.4, barely above noise — LSH's
    * theoretical worst case) this measures >=0.8 recall
    * (DedupSimilaritySpec floor), and on clustered real-embedding
    * geometry far higher.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      planes: Int = 8, dims: Int = 64, probeBits: Int = 2,
      tables: Int = 6, broadcastQueries: Boolean = true): DataFrame = {
    val c = corpus.select(col("vec_id").as("nid"), col("embedding").as("nv"),
      posexplode(bucketsCol("embedding", planes, tables, dims))
        .as(Seq("tbl", "bucket")))
    // all xor masks with <= probeBits bits set (mask 0 = the bucket itself)
    val masks = 0L +: (1 to probeBits).flatMap(sz =>
      (0 until planes).combinations(sz).map(_.map(1L << _).sum))
    // The probe side carries tables*(1+masks) rows PER QUERY (222× with
    // the defaults) — so it ships KEYS ONLY (qid, tbl, bucket ≈ 20 B/row,
    // ~4.4 KB/query); the full embedding is re-attached AFTER the bucket
    // join from the un-exploded query table (one row per query). For very
    // large query sets pass broadcastQueries=false: both joins become
    // shuffled equi-joins, still no cross product.
    val qKeys = queries.select(col("vec_id").as("qid"),
        posexplode(bucketsCol("embedding", planes, tables, dims))
          .as(Seq("tbl", "b0")))
      .select(col("qid"), col("tbl"),
        explode(array(masks.map(m =>
          col("b0").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val qVecs = queries.select(col("vec_id").as("qid"),
      col("embedding").as("qv"))
    def side(df: DataFrame) = if (broadcastQueries) broadcast(df) else df
    val scored = c.join(side(qKeys), Seq("tbl", "bucket"))
      .filter(col("qid") =!= col("nid"))
      .dropDuplicates("qid", "nid")
      .join(side(qVecs), Seq("qid"))
      .select(col("qid"), col("nid"),
        round(Fns.cosineSimilarity(col("qv"), col("nv")), 6).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training: the top-k nearest
    * neighbors per query whose cosine falls INSIDE a mid-similarity band
    * — similar enough to be informative negatives, dissimilar enough to
    * not be latent positives (near-duplicates above `hi` are excluded;
    * easy negatives below `lo` teach nothing). Band membership tests the
    * ROUNDED cosine, so the cut is engine-invariant. Broadcast queries,
    * corpus streamed — p09's plan shape with a pre-rank band filter.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
      lo: Double, hi: Double): DataFrame = {
    require(lo < hi, s"band must satisfy lo < hi, got [$lo, $hi]")
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val c = corpus.select(col("vec_id").as("nid"), col("embedding").as("nv"))
    val scored = c.join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(Fns.cosineSimilarity(col("qv"), col("nv")), 6).as("cos"))
      .filter(col("cos") >= lo && col("cos") <= hi)
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Memory-lean top-k over SYMMETRIC-INT8 QUANTIZED vectors (FAISS's
    * SQ8 idea): both sides are quantized with [[Embeddings.int8Codes]]
    * (4× smaller at rest and over the wire) and candidates are ranked by
    * the INTEGER code dot product — exact integer arithmetic, so the
    * ranking is bit-deterministic on any engine, unlike float scores.
    * The classic 100 TB serving shape: quantized coarse rank streams the
    * corpus at a quarter of the bandwidth; rescore survivors with the
    * full-precision vectors downstream if cosine fidelity matters.
    */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"),
      Embeddings.int8Codes(col("embedding")).as("qc"))
    val c = spread(corpus).select(col("vec_id").as("nid"),
      Embeddings.int8Codes(col("embedding")).as("nc"))
    // native one-pass integer dot (quantization above runs once per row;
    // THIS runs once per candidate pair — the hot loop, so no
    // interpreted zip_with/aggregate lambdas here)
    val scored = c.join(broadcast(q), col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        Fns.arrayIntDot(col("qc"), col("nc")).as("qdot"))
    val w = Window.partitionBy("qid").orderBy(col("qdot").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF-style approximate top-k: a k-means coarse quantizer
    * ([[Clustering.lloyd]], 10 rounds) assigns every corpus vector to its
    * nearest centroid ([[Clustering.cellOf]]); each query searches only
    * its `nprobe` euclidean-nearest cells, reranked by exact cosine — the
    * probe-and-rank core [[AnnIndex.topKAgainstIndex]] runs against a
    * stored index. The classic big-corpus ANN layout: the corpus is
    * partitioned by cell id, a query touches nprobe/nlist of the data.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val (_, cents) = Clustering.lloyd(corpus, "vec_id", "embedding", nlist, 10)
    // the cell is computed on the corpus frame, not joined back from
    // lloyd's assignments: that join would push the distance array into
    // the corpus scan's filter (see AnnIndex.rankProbed)
    val postings = corpus.select(
      Clustering.cellOf(col("embedding"), cents).as("cell"),
      col("vec_id").as("nid"), col("embedding").as("nv"))
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    AnnIndex.rankProbed(AnnIndex.probeCells(q, cents, nprobe), postings, k)
  }

  /** All embedding pairs with cosine >= threshold (near-duplicate pairs
    * in embedding space), EXACT, block-partitioned for scale.
    *
    * Exact all-pairs at a low threshold is inherently O(n^2) compute (the
    * fixtures' qualifying pairs sit at cos 0.40-0.60 — the tail of the
    * random-pair distribution — so any sub-quadratic candidate generator
    * provably misses boundary pairs; measured in DedupSimilaritySpec).
    * What CAN scale is the plan shape: instead of one BroadcastNestedLoop
    * over the whole corpus, vectors are hashed into `blocks` blocks, each
    * unordered block pair (i <= j) becomes one join key, and the product
    * is computed inside a shuffled equi-join on that key. Per-task memory
    * is bounded by one block (size n/blocks — set blocks ~ n/1e5 on a real
    * cluster), shuffle volume is n*(blocks+1) rows, and the plan contains
    * no BNLJ/cartesian node. For genuinely-near duplicates (threshold >=
    * ~0.7) use [[cosineNearDupPairsLsh]], which is sub-quadratic.
    *
    * Pair coverage: a cross-block pair (x, y) with bx < by appears exactly
    * once — in pid (bx, by), with x on the a-side — so only in-block pairs
    * need the id_a < id_b dedup; off-diagonal rows are canonicalized with
    * least/greatest.
    */
  def cosineNearDupPairs(embeddings: DataFrame, threshold: Double,
      blocks: Int = 16): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val blockPairs = (for { i <- 0 until blocks; j <- i until blocks }
      yield (i, j, i.toLong * blocks + j)).toDF("bi", "bj", "pid")
    val a = embeddings
      .select(col("vec_id").as("id_a"), col("embedding").as("va"),
        pmod(col("vec_id"), lit(blocks)).cast("int").as("bi"))
      .join(broadcast(blockPairs.select("bi", "pid")), Seq("bi"))
    val b = embeddings
      .select(col("vec_id").as("id_b"), col("embedding").as("vb"),
        pmod(col("vec_id"), lit(blocks)).cast("int").as("bj"))
      .join(broadcast(blockPairs.select("bj", "pid")), Seq("bj"))
    a.join(b, Seq("pid"))
      .filter(col("bi") < col("bj") || col("id_a") < col("id_b"))
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        round(Fns.cosineSimilarity(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Approximate near-dup pairs for HIGH thresholds — the sub-quadratic
    * scale path. `tables` independent sign-LSH tables of `planes` bits;
    * candidate pairs share a bucket in ANY table; every candidate is
    * verified with exact cosine, so precision is 1 and the only error is
    * missed pairs: P(miss) = (1 - p^planes)^tables with p = 1 - acos(t)/pi.
    * Defaults (8 tables x 4 planes) put P(miss) at ~3e-5 for cos 0.97
    * near-identical duplicates and ~2e-3 at cos 0.9. At low thresholds
    * (0.4: p ~ 0.63) no parameterization is both sub-quadratic and
    * high-recall — use the blocked exact join there.
    */
  def cosineNearDupPairsLsh(embeddings: DataFrame, threshold: Double,
      tables: Int = 8, planes: Int = 4, dims: Int = 64): DataFrame = {
    val keyed = embeddings.select(col("vec_id"), col("embedding"),
      posexplode(bucketsCol("embedding", planes, tables, dims))
        .as(Seq("tbl", "bucket")))
    val a = keyed.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      col("tbl"), col("bucket"))
    val b = keyed.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      col("tbl"), col("bucket"))
    a.join(b, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("va"), col("vb"))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"),
        round(Fns.cosineSimilarity(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
