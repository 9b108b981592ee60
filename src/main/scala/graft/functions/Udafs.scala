package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.expressions.Aggregator

/** Mutable partial state for [[GeoMean]]: sum of logs + count. */
case class GeoMeanBuf(var sumLog: Double, var n: Long)

/** Geometric mean as a user-defined aggregate — the engine's SQL-surface
  * UDAF path (`spark.udf.register("geomean", functions.udaf(GeoMean))`),
  * the untyped complement of the typed `ReduceAggregator` plugin ABI.
  * Partial aggregation is free: `reduce` folds map-side, `merge` combines
  * partition buffers, so the shuffle carries one (sumLog, n) pair per
  * group per partition — the same partial/final split as built-in `avg`.
  * exp/ln in double: cross-engine drift is far below the 6dp rounding
  * every consuming query applies.
  */
/** One (key, exact-or-MG count) pair of a [[TopKFreq]] result. */
case class KeyCount(key: String, cnt: Long)
/** [[TopKFreq]] output wrapper (product encoder needs a named struct). */
case class TopKOut(items: Seq[KeyCount])
/** Bounded Misra-Gries counter map for [[TopKFreq]]. */
case class MGBuf(var m: Map[String, Long])

/** Per-GROUP approximate heavy hitters as a typed, constructor-
  * parameterized Aggregator — the harder instance of the UDAF plugin
  * ABI beside [[GeoMean]] (custom buffer encoder over a Map, mergeable-
  * summary semantics, struct-array output consumed via posexplode).
  *
  * Each buffer is a `capacity`-entry Misra-Gries summary: reduce is the
  * classic increment-or-decrement-all step; merge adds counts then
  * subtracts the (capacity+1)-th largest total and drops non-positives —
  * the standard mergeable-summaries result (Agarwal et al., PODS 2012),
  * so partial aggregation stays map-side like built-in aggregates and
  * the shuffle carries at most `capacity` entries per group per
  * partition, regardless of group size.
  *
  * Exactness contract (q50's lesson, restated per group): if a group
  * sees <= capacity distinct keys in every partial, no decrement ever
  * fires and the counts — and therefore the top-k — are EXACT; that is
  * the regime the q76 oracle certifies (bounded key domain). Beyond it
  * the summary degrades gracefully to within-N_p/capacity
  * underestimates. finish emits the top-k by (count desc, key asc) as
  * an array of (key, cnt) structs.
  */
class TopKFreq(k: Int, capacity: Int)
    extends Aggregator[String, MGBuf, TopKOut] {
  require(k >= 1 && capacity >= k,
    s"need capacity >= k >= 1, got k=$k capacity=$capacity")
  override def zero: MGBuf = MGBuf(Map.empty)
  override def reduce(b: MGBuf, key: String): MGBuf = {
    if (key != null) b.m.get(key) match {
      case Some(c) => b.m = b.m.updated(key, c + 1)
      case None if b.m.size < capacity => b.m = b.m.updated(key, 1L)
      case None => b.m = b.m.flatMap { case (kk, c) =>
        if (c == 1L) None else Some(kk -> (c - 1L)) }
    }
    b
  }
  override def merge(a: MGBuf, b: MGBuf): MGBuf = {
    var m = a.m
    b.m.foreach { case (kk, c) => m = m.updated(kk, m.getOrElse(kk, 0L) + c) }
    if (m.size > capacity) {
      // (capacity+1)-th largest count; <= capacity keys exceed it strictly
      val cut = m.values.toSeq.sorted(Ordering[Long].reverse).apply(capacity)
      m = m.flatMap { case (kk, c) =>
        if (c - cut <= 0L) None else Some(kk -> (c - cut)) }
    }
    a.m = m
    a
  }
  override def finish(b: MGBuf): TopKOut =
    TopKOut(b.m.toSeq.sortBy { case (kk, c) => (-c, kk) }.take(k)
      .map { case (kk, c) => KeyCount(kk, c) })
  override def bufferEncoder: Encoder[MGBuf] = Encoders.product[MGBuf]
  override def outputEncoder: Encoder[TopKOut] = Encoders.product[TopKOut]
}

object GeoMean extends Aggregator[Double, GeoMeanBuf, Double] {
  override def zero: GeoMeanBuf = GeoMeanBuf(0.0, 0L)
  override def reduce(b: GeoMeanBuf, x: Double): GeoMeanBuf = {
    b.sumLog += math.log(x); b.n += 1; b
  }
  override def merge(a: GeoMeanBuf, b: GeoMeanBuf): GeoMeanBuf = {
    a.sumLog += b.sumLog; a.n += b.n; a
  }
  override def finish(b: GeoMeanBuf): Double =
    if (b.n == 0) Double.NaN else math.exp(b.sumLog / b.n)
  override def bufferEncoder: Encoder[GeoMeanBuf] = Encoders.product[GeoMeanBuf]
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

/** Bounded min-hash set for [[KmvDistinct]]: `hs` holds UNSIGNED-ORDER
  * representations (hash XOR sign bit, so signed sort == unsigned sort)
  * of observed hashes; kept un-compacted between prunes for O(1) inserts.
  */
case class KmvBuf(var hs: Seq[Long])

/** Distinct-count estimation via a K-Minimum-Values sketch (Bar-Yossef
  * et al. 2002 / Beyer et al. 2007) — mergeable-summaries plugin-ABI
  * instance #3 beside [[GeoMean]] and [[TopKFreq]], with one property
  * the Misra-Gries summary cannot offer: the result is fully LAYOUT-
  * INVARIANT. A KMV buffer is "the `capacity` smallest distinct hash
  * values seen", and the k smallest elements of a multiset do not depend
  * on arrival order or partition boundaries — so partials merge to the
  * same sketch under any repartitioning, exact regime or not
  * (spec-pinned; contrast MG's layout-dependent approximate regime).
  *
  * Exactness contract (q50's contract, instance #3): while a group's
  * distinct count stays BELOW `capacity`, the sketch holds every distinct
  * hash and `finish` returns the exact distinct count (modulo 64-bit
  * hash collisions: P < n^2 / 2^65, ~1e-13 at n = 4096 — far below any
  * other nondeterminism tolerated in this repo). At and past saturation
  * it returns the standard unbiased estimator (capacity-1) / u_k, where
  * u_k is the capacity-th smallest hash normalized to (0,1) — relative
  * stderr ~ 1/sqrt(capacity-2).
  *
  * Scale: the shuffle carries at most `capacity` longs per group per
  * partition (8 KB at the default 1024), map-side partials like built-in
  * approx_count_distinct — but exact-when-small and deterministic, which
  * HLL++ is not across implementations. Inserts append and amortize the
  * sort: the buffer compacts (sort unsigned, distinct, truncate) only on
  * overflow past 4x capacity.
  */
class KmvDistinct(capacity: Int)
    extends Aggregator[String, KmvBuf, Long] {
  require(capacity >= 2, s"capacity must be >= 2, got $capacity")

  /** [[BloomUtil.hashString]]: its avalanche makes the hash behave
    * uniform in the unsigned unit interval, which the (capacity-1)/u_k
    * estimator assumes.
    */
  private def h64(s: String): Long =
    BloomUtil.hashString(s) ^ Long.MinValue // unsigned-order representation

  private def compact(hs: Seq[Long]): Seq[Long] =
    hs.distinct.sorted.take(capacity)

  override def zero: KmvBuf = KmvBuf(Vector.empty)
  override def reduce(b: KmvBuf, key: String): KmvBuf = {
    if (key != null) {
      b.hs = b.hs :+ h64(key)
      if (b.hs.size > 4 * capacity) b.hs = compact(b.hs)
    }
    b
  }
  override def merge(a: KmvBuf, b: KmvBuf): KmvBuf = {
    a.hs = compact(a.hs ++ b.hs)
    a
  }
  override def finish(b: KmvBuf): Long = {
    val hs = compact(b.hs)
    if (hs.size < capacity) hs.size.toLong
    else {
      // u_k in (0,1): shift the unsigned-order rep back to unsigned value
      val uk = (hs.last.toDouble + 9.223372036854775808e18) /
        1.8446744073709552e19
      math.round((capacity - 1).toDouble / uk)
    }
  }
  override def bufferEncoder: Encoder[KmvBuf] = Encoders.product[KmvBuf]
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
}
