package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Deduplication suite for LLM training-data pipelines (north-star scope;
  * the reference's only dedup-adjacent semantics is key-grouping,
  * /root/reference/mr/worker.go:139-155).
  *
  * Scale design (100 TB):
  *   - exact dedup = hash groupBy on the content hash — one shuffle of
  *     (hash, id), never of the full text;
  *   - MinHash+LSH = the candidate set is generated by banding, so the
  *     only joins are equi-joins on (band, bandkey) and on doc ids; no
  *     all-pairs comparison ever materializes. Signatures are built with
  *     128 partial-aggregating `min`s (map-side combined), not collects;
  *   - SimHash = 32-bit signatures, pigeonhole banding for hamming<=k
  *     candidates, exact popcount verify;
  *   - exact n-gram Jaccard = inverted-index equi-join on shingles —
  *     only pairs sharing >=1 shingle are scored.
  */
object Dedup {

  private val P = 2147483647L // 2^31 - 1, prime

  /** seed-i affine permutation of a base hash, mod P */
  private def perm(h: Column, i: Int): Column =
    (h * lit(2L * i + 3) + lit((i.toLong * 2654435761L) % P)) % lit(P)

  /** Exact duplicate groups by content hash: one row per distinct text,
    * keeper = min id, n_copies = group size.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("content_md5"))
      .groupBy("content_md5")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-doc distinct shingle arrays: (id, sh).
    *
    * The ARRAY form (shingle_array), not the shingle_rows Generator, is
    * deliberate here: every consumer needs the shingle set as a VALUE —
    * MinHashSigs folds over it per row, verifyJaccard intersects two of
    * them, ngramJaccardPairs needs size(sh) alongside the explode — and
    * the one materialization is shared across plan branches via the
    * pinned shingle-array exchange in minhashNearDupPairs. A Generator
    * emits rows, not a reusable value, so it fits explode-only pipelines
    * (Decontaminate, p36) where the array would be pure allocation
    * overhead.
    *
    * The raw (id, text) rows are repartitioned by id BEFORE the shingle
    * expression: a small-SF parquet arrives as one split, which would run
    * the heaviest compute (shingling + 128 hash permutations downstream)
    * in a single task (measured: 0.97 s of p02's 1.6 s in a 1-task
    * stage). Exchanging raw text is the cheapest possible shuffle of this
    * data, and hash-partitioning by id is exactly what the signature
    * groupBy(id) and the verify joins need, so Spark elides their
    * exchanges — net stage count is unchanged while the hot stage gets
    * full parallelism. At cluster scale the scan is already split;
    * the id-exchange then just pre-aligns the aggregation partitioning.
    *
    * The partition count is pinned (REPARTITION_BY_NUM) because AQE's
    * coalescer would merge these byte-small partitions back into one —
    * it optimizes bytes-per-task, and this stage's cost is compute per
    * byte, not bytes.
    *
    * Docs with fewer than n tokens (empty shingle set) are dropped by a
    * guard on the tokens, not on `sh`: Catalyst substitutes the alias and
    * pushes a filter on `sh` below the repartition, which would shingle
    * every doc a second time inside the scan. Both guards keep the same
    * rows, since the shingle array is non-empty exactly when there are
    * at least n tokens.
    */
  def shingled(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.filter(size(Fns.tokens(col(textCol))) >= n)
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("id"))
      .select(col("id"),
        Fns.shingles(Fns.tokens(col("text")), n).as("sh"))

  /** MinHash signatures: numHashes columns m0..m{k-1}, computed by the
    * native MinHashSigs expression — a pure per-row project, NO explode,
    * NO aggregation, NO shuffle. The previous formulation (explode
    * shingles → 128 partial-min aggregates) pushed ~200x|docs| rows
    * through a 128-buffer hash aggregate plus a groupBy exchange; one
    * tight loop per document computes the identical values (same affine
    * permutation family, same RollingHash31 base hash).
    */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame =
    // MinHashSigs returns null exactly for null/empty shingle arrays;
    // drop those here (not just in shingled's token guard) — a caller
    // bypassing that filter would otherwise feed all-null signatures
    // into lshCandidates, where hash() over nulls is one constant and
    // every such doc collides in every band (quadratic candidate
    // blowup). Round-18: the guard filters the INPUT (null/empty array)
    // instead of `mh.isNotNull` — value-identical (nullSafeEval: null in
    // -> null out; empty -> null), but the old form was pushed down as
    // `isnotnull(minhash_sigs(shingle_array(...)))` into the parquet
    // scan's Filter, re-evaluating the full 128-hash signature (and the
    // shingling under it) once per row below the exchange, on top of
    // the real evaluation in the project above it.
    sh.filter(col("sh").isNotNull && size(col("sh")) > 0)
      .select(col("id"), Fns.minhashSigs(col("sh"), numHashes).as("mh"))
      .select(col("id") +:
        (0 until numHashes).map(i => col("mh").getItem(i).as(s"m$i")): _*)

  /** Banded signature rows (id, band, bkey) from wide m0..m{k-1} signature
    * columns — the LSH bucket keys. Factored out of [[lshCandidates]] so
    * [[IncrementalDedup]] can persist exactly the frame the self-join
    * consumes: an index built from this and a live batch banded by this
    * collide iff the full recompute would collide.
    *
    * The band INDEX is folded into `bkey` (it is the first hash input), so
    * bkey equality alone is the collision predicate and every downstream
    * join — including the probe against a bkey-BUCKETED persisted index —
    * needs exactly one join key. A cross-band hash collision (two different
    * bands landing on one bkey, ~2^-32) can only ADD a candidate pair, and
    * every candidate is exact-Jaccard verified, so results are unchanged.
    * The `band` column stays in the output for telemetry/debugging only.
    */
  def bandRows(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes): a remainder would " +
        "silently drop signature columns and change the LSH S-curve")
    val rows = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        hash(lit(b) +:
          (b * rows until (b + 1) * rows).map(i => col(s"m$i")): _*).as("bkey"))
    }
    sigs.select(col("id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** LSH candidate pairs from banded signatures (id_a < id_b). */
  def lshCandidates(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val banded = bandRows(sigs, numHashes, bands)
    // Deliberately a streamed self-join, NOT groupBy+collect_list+pair
    // expansion: the bucket-group form is ~20% faster at bench scale but
    // materializes an entire collision bucket (and its k²/2 pairs) in one
    // row — an OOM on the hot buckets real corpora produce (boilerplate,
    // k duplicates collide in every band). The join streams the same
    // pairs with spill, and null ids are dropped by the join predicate.
    //
    // SHUFFLE_HASH hint, for two measured reasons: (1) without a hint AQE
    // broadcast-converts one side, the two sides get different exchange
    // types, and exchange reuse can't dedupe them — the whole scan+
    // shingle+128-min signature subtree runs TWICE (~0.6 s of p02's 2.1 s
    // at sf0.1); a symmetric shuffle join is one identical exchange,
    // computed once and read twice. (2) vs MERGE, the hash join skips
    // sorting 2x|bands|x|docs| banded rows. Build-side memory is one
    // shuffle partition's hash map — bounded by partition count, not by
    // hot-bucket size.
    banded.as("x").hint("SHUFFLE_HASH").join(banded.as("y").hint("SHUFFLE_HASH"),
        col("x.bkey") === col("y.bkey") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
  }

  /** Candidates verified by exact Jaccard over the shingle sets. */
  def verifyJaccard(cands: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    // SHUFFLE_HASH-hinted for the same exchange-reuse reason as
    // lshCandidates: both verify sides shuffle the shingle frame on its
    // id, so the shingling subtree is computed once and read twice
    // instead of re-shingling under two separate broadcast joins.
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a")).hint("SHUFFLE_HASH")
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b")).hint("SHUFFLE_HASH")
    cands.join(a, "id_a").join(b, "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Near-duplicate pairs: MinHash+LSH candidates, exact-Jaccard verified.
    * With 128 hashes / 32 bands, P(miss | j >= 0.8) < 1e-7 — the planted
    * near-dups in the fixtures all sit at j >= 0.9, so the output equals
    * the exact all-pairs result (which is what the DuckDB oracle computes).
    *
    * EAGER at construction: the shared shingle frame is materialized via
    * [[Materialize.cut]] (Spark jobs run before this returns, and the
    * materialized blocks live until the frame is GC'd) — callers that
    * only inspect plans should compose upstream stages explicitly
    * (shingled → minhashSignatures → lshCandidates → verifyJaccard).
    * On clusters, `spark.graft.checkpoint.reliable=true` makes the cut
    * storage-backed and executor-loss-safe (SCALE.md round 19).
    */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8): DataFrame = {
    // The shingle frame feeds three plan branches (signatures + both
    // sides of the verify join). The r12-r17 design relied on a second
    // pinned id-exchange carrying the COMPUTED arrays for all three
    // consumers — but the physical planner ELIDES a repartition whose
    // child already has the identical partitioning (shingled() ends in
    // the same hash(id, N)), so the plan that actually ran carried raw
    // text through ONE exchange and recomputed shingling once per
    // consuming stage. Round-18: an eager localCheckpoint does what
    // the elided exchange was meant to — shingles compute exactly once
    // and every branch reads the materialized blocks (measured p02
    // 1.47 -> 1.29 s min / 1.69 -> 1.36 median at sf0.1, fewer AQE
    // replans). The checkpoint makes this call eager at construction
    // (every registered caller executes the frame; blocks are freed by
    // the ContextCleaner when the frame goes out of scope — the
    // componentLabels/Chain precedent). At petabyte scale the caller
    // checkpoints the shingle frame to storage and passes the stages
    // explicitly (shingled -> minhashSignatures -> lshCandidates ->
    // verifyJaccard).
    val sh = shingled(df, idCol, textCol, shingleSize)
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("id"))
      .transform(Materialize.cut)
    val sigs = minhashSignatures(sh, numHashes)
    verifyJaccard(lshCandidates(sigs, numHashes, bands), sh, threshold)
  }

  /** 32-bit SimHash over token occurrences (weighted by multiplicity):
    * bit j set iff sum over tokens of (parity of perm_j(hash(token)) ? +1
    * : -1) is positive. Fully mirrorable in the DuckDB oracle.
    */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val contrib = (j: Int) => when(perm(col("h"), j) % 2 === 1, 1L).otherwise(-1L)
    df.select(col(idCol).as("id"), explode(Fns.tokens(col(textCol))).as("token"))
      .select(col("id"), Fns.rollingHash31(col("token")).as("h")) // hash once
      .groupBy("id")
      .agg(sum(contrib(0)).as("w0"), (1 until 32).map(j => sum(contrib(j)).as(s"w$j")): _*)
      .select(col("id"),
        (0 until 32).map(j =>
          when(col(s"w$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs with hamming distance <= maxDist, via
    * pigeonhole banding ((maxDist+1) bands — any pair within maxDist
    * agrees exactly on at least one band) and exact popcount verify.
    */
  def simhashNearDupPairs(sigs: DataFrame, maxDist: Int): DataFrame =
    hammingNearDupPairs(sigs, "simhash", 32, maxDist)

  /** Banded hamming near-dup join over ANY bit signature column — the
    * pigeonhole machinery [[simhashNearDupPairs]] uses, generalized to
    * `totalBits` so other signature families ride it (e.g. the 16-bit
    * image aHash, [[Multimodal.aHash]]). The (maxDist+1) bands PARTITION
    * all totalBits — the last band absorbs the remainder bits, because a
    * bit outside every band would break the pigeonhole guarantee (a pair
    * differing only there plus maxDist in-band bits would collide in no
    * band and be silently missed).
    */
  def hammingNearDupPairs(sigs: DataFrame, sigCol: String, totalBits: Int,
      maxDist: Int): DataFrame = {
    require(maxDist >= 0 && totalBits >= maxDist + 1 && totalBits <= 63,
      s"need 0 <= maxDist < totalBits <= 63, got $maxDist/$totalBits")
    val bands = maxDist + 1
    val base = totalBits / bands
    val bandStructs = (0 until bands).map { b =>
      val start = b * base
      val len = if (b == bands - 1) totalBits - start else base
      struct(lit(b).as("band"),
        shiftright(col(sigCol), start)
          .bitwiseAND(lit((1L << len) - 1)).as("bkey"))
    }
    val banded = sigs.select(col("id"), col(sigCol).as("__sig"),
      explode(array(bandStructs: _*)).as("bk"))
      .select(col("id"), col("__sig"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.__sig").bitwiseXOR(col("y.__sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Inverted-index rows (id, sz, shingle) of [[shingled]]: one row per
    * distinct shingle, with the doc's shingle count. Catalyst pushes any
    * filter on a column derived from `sh` into the scan with the alias
    * inlined, where it would shingle every doc a second time. Two such
    * filters would be inferred here: `size(sh) > 0 AND isnotnull(sh)`
    * from an inner explode, and `isnotnull(sz)` from the arithmetic the
    * callers do on `sz`. explode_outer infers nothing, and a non-nullable
    * `sz` needs no null check. Neither changes a value, since shingled
    * already drops null and empty shingle arrays.
    */
  private def shingleIndex(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    shingled(df, idCol, textCol, n).select(col("id"),
      coalesce(size(col("sh")), lit(0)).as("sz"),
      explode_outer(col("sh")).as("shingle"))

  /** Ordered containment pairs: C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)| >=
    * threshold, a ≠ b. Containment, unlike Jaccard, catches ASYMMETRIC
    * duplication — a short doc quoted wholesale inside a long one scores
    * near 1.0 on containment while its Jaccard stays low (the union is
    * dominated by the long doc). The pair (a, b) reads "a is contained
    * in b"; both directions are emitted when both hold.
    *
    * Same inverted-index scale shape as [[ngramJaccardPairs]]: the only
    * join is the shingle equi-join, so only pairs sharing >= 1 shingle
    * are ever scored; hot boilerplate shingles are the AQE skew case.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, threshold: Double): DataFrame = {
    val ex = shingleIndex(df, idCol, textCol, shingleSize)
    ex.as("a").join(ex.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") =!= col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"))
      .agg(count(lit(1)).cast("double").as("inter"))
      .withColumn("containment", col("inter") / col("sz_a"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment"))
  }

  /** Exact n-gram Jaccard pairs >= threshold via shingle inverted-index
    * join: intersection counts come from the equi-join, union sizes from
    * the per-doc shingle counts.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, threshold: Double): DataFrame = {
    val ex = shingleIndex(df, idCol, textCol, shingleSize)
    ex.as("a").join(ex.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).cast("double").as("inter"))
      .withColumn("jaccard",
        col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** QUALITY-AWARE canonical keep over near-dup clusters — the
    * RefinedWeb/FineWeb release rule: instead of the arbitrary min-id
    * representative (exactGroups/p48), each connected near-dup component
    * keeps its HIGHEST-QUALITY member. Per component:
    * (group_id, n_members, kept_id, kept_quality). `quality` must be
    * deterministic and pre-rounded (6dp — the round-before-argmax rule);
    * ties break on the lower id, so the selection is engine-invariant.
    *
    * Scale shape: components come from pointer-jumping over the banded
    * pair set (O(log d) rounds, ConnectedComponents), the argmax is
    * TopKPerGroup k=1 (map-side state bounded at one row per group, no
    * WindowExec), and sizes are a partial agg on the same join — no
    * per-group text ever moves, only (id, group, quality) triples.
    */
  def qualityCanonicalKeep(docs: DataFrame, idCol: String,
      pairs: DataFrame, quality: Column, maxIter: Int = 20): DataFrame = {
    val groups = ConnectedComponents.dedupGroups(docs, idCol, pairs, maxIter)
      .select(col("doc_id"), col("group_id"))
    val q = docs.select(col(idCol).cast("long").as("doc_id"),
      quality.as("q"))
    val j = groups.join(q, "doc_id")
    val kept = graft.plans.TopKPerGroup.topK(j, Seq("group_id"),
      Seq(col("q").desc, col("doc_id").asc), 1)
    val sizes = j.groupBy("group_id").agg(count(lit(1)).as("n_members"))
    kept.join(sizes, Seq("group_id"))
      .select(col("group_id"), col("n_members"),
        col("doc_id").as("kept_id"), col("q").as("kept_quality"))
  }
}
