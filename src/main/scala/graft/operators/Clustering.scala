package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** K-means clustering (Lloyd's algorithm) over an embedding column —
  * the engine's ONE k-means: [[AnnIndex]]'s and [[Similarity.ivfTopK]]'s
  * coarse quantizers and [[SemanticDedup]]'s multi-cell centroids are
  * all fit by [[lloyd]], and every single-cell assignment is [[cellOf]].
  * The loop runs under the determinism contract that makes it EXACTLY
  * oracle-able: the engine's k-means is hash-checked round for round
  * against an independent SQL replay (p77), and every quantizer built
  * on it is a pure, re-executable function of its input.
  *
  * Determinism contract (the p65/q74/p72 unrolled-iteration move):
  * initial centroids = the k lowest-id vectors (k-means++ trades
  * determinism for quality; callers wanting it pass `init`
  * explicitly); every point-to-centroid distance is squared euclidean
  * ROUNDED to 6dp before comparison, argmin ties break to the lower
  * cell id; each round's new centroid is the member mean rounded to
  * 6dp per coordinate (empty cells KEEP their previous centroid — the
  * standard Lloyd degeneracy rule); the next round consumes the
  * ROUNDED centroids, so the whole trajectory is a pure function of
  * (corpus, k, iters).
  *
  * Scale: each round scans the corpus once against PLAN-LITERAL
  * centroids (no join, no shuffle for the assignment — SemanticDedup's
  * move), partial-aggregates per-cell (sum, count) — k × dims driver
  * state, a parameter not a data size — and the driver mints the next
  * round's literals. At most iters × one-scan total (a fixed point ends
  * the loop early); the assignment output is computed once more with
  * the final centroids.
  */
object Clustering {

  // ONE rounding definition shared with the native distance expression
  // (the argmin rounds with the same function the update rounds with)
  private def round6(x: Double): Double =
    graft.functions.SqDistToAll.round6(x)

  /** All k distances as one array column — evaluated ONCE per row; the
    * argmin cell is `array_position` of the min (first index wins, so
    * exact-distance ties go to the lower cell id).
    *
    * Round-19 (optimization): the per-centroid
    * `round(aggregate(zip_with(v, c, (a,b) => (a-b)*(a-b)), 0.0, _+_), 6)`
    * lambda composition is replaced by the native
    * [[graft.functions.SqDistToAll]] expression — Spark evaluates
    * higher-order lambdas interpreted, which made the assignment the hot
    * loop of every Lloyd round. Same index-ordered sums, same 6dp
    * HALF_UP round BEFORE the argmin, bit-identical trajectory
    * (SqDistsSpec pins the parity; the oracle re-proves it end to end).
    */
  private def distArr(v: Column, cents: Seq[Array[Double]]): Column =
    graft.functions.Fns.sqDistToAll(v.cast("array<double>"), cents,
      round6 = true)

  /** Argmin index of a distance array, ties to the lower cell id. */
  private[operators] def argminCell(dArr: Column): Column =
    (array_position(dArr, array_min(dArr)) - 1).cast("int")

  /** THE single-cell assignment: the nearest of the plan-literal
    * centroids `cents` by 6dp-rounded squared euclidean distance, ties
    * to the lower cell id — a pure per-row expression (no join, no
    * shuffle), identical to the assignment inside every [[lloyd]] round,
    * so a vector assigned later lands exactly where the fit put it.
    */
  def cellOf(v: Column, cents: Seq[Array[Double]]): Column =
    argminCell(distArr(v, cents))

  /** Up to `iters` Lloyd rounds from `init` (default: the k lowest-id
    * vectors); returns (assignments, centroids) — assignments as
    * (id, cell, dist) under the FINAL centroids, centroids as the
    * final k × dims table (cell, centroid).
    */
  def lloyd(emb: DataFrame, idCol: String, embCol: String, k: Int,
      iters: Int, init: Option[Seq[Array[Double]]] = None)
      : (DataFrame, Seq[Array[Double]]) = {
    require(k >= 1 && iters >= 0, s"need k >= 1, iters >= 0; got $k/$iters")
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(col(idCol).cast("long").as("id"),
        col(embCol).cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cents: Seq[Array[Double]] = init.getOrElse {
        val seed = base.orderBy("id").limit(k)
          .select("v").as[Seq[Double]].collect()
        require(seed.length == k, s"need >= $k vectors, got ${seed.length}")
        seed.map(_.toArray).toSeq
      }
      require(cents.length == k, "init must carry exactly k centroids")
      val dims = cents.head.length
      var rounds = 0
      var moved = true
      // a round that returns its own input centroids is a fixed point:
      // every later round repeats it, so stopping there returns exactly
      // what `iters` rounds would (Bench's clustered ladder settles in 2)
      while (moved && rounds < iters) {
        // one scan: assign + per-cell (sum per coordinate, count)
        val sums = base
          .withColumn("__d", distArr(col("v"), cents))
          .select(argminCell(col("__d")).as("cell"), col("v"))
          .groupBy("cell")
          .agg(count(lit(1)).as("n"),
            array((0 until dims).map(d =>
              sum(element_at(col("v"), d + 1))): _*).as("s"))
          .as[(Int, Long, Seq[Double])].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap
        val next = cents.zipWithIndex.map { case (old, c) =>
          sums.get(c) match {
            case Some((n, s)) => s.map(x => round6(x / n)).toArray
            case None => old // empty cell keeps its centroid
          }
        }
        moved = !next.corresponds(cents)(_ sameElements _)
        cents = next
        rounds += 1
      }
      val assigned = base.withColumn("__d", distArr(col("v"), cents))
        .select(col("id"), argminCell(col("__d")).as("cell"),
          array_min(col("__d")).as("dist"))
      (assigned, cents)
    } finally base.unpersist(): Unit
  }

  /** [[lloyd]]'s assignment table plus the per-cell size and inertia
    * rollup — the registered-query shape: (cell, n, inertia, centroid
    * checksum Σ_d (d+1)·c_d rounded 6dp, pinning every coordinate).
    */
  def lloydSummary(emb: DataFrame, idCol: String, embCol: String, k: Int,
      iters: Int): DataFrame = {
    val (assigned, cents) = lloyd(emb, idCol, embCol, k, iters)
    // the checksums ride as a plan literal looked up by cell: a join
    // against a k-row frame would let Catalyst infer isnotnull(cell) and
    // push the whole distance array into the embeddings scan's filter
    val checks = typedLit(cents.map(c =>
      round6(c.zipWithIndex.map { case (x, d) => (d + 1) * x }.sum)))
    assigned.groupBy("cell")
      .agg(count(lit(1)).cast("long").as("n"),
        round(sum("dist"), 6).as("inertia"))
      .select(col("cell"), col("n"), col("inertia"),
        element_at(checks, col("cell") + 1).as("centroid_checksum"))
  }
}
