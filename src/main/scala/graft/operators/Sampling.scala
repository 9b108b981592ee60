package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Deterministic per-stratum subsampling: exactly min(k, |stratum|) rows
  * per stratum, selected by salted-hash order — the eval-set / ablation
  * construction primitive. Hash order (FNV-1a of the id) makes the
  * sample a pure function of the data: stable across runs, partition
  * layouts, cluster sizes and engines — unlike `sample()`, whose RNG
  * stream is partition-dependent, and unlike "first k" which is
  * scan-order-dependent.
  *
  * Scale design: planned through the engine's custom TopKPerGroup
  * physical operator — map-side bounded heaps cap the exchange at k rows
  * per (stratum x input partition), so a 100 TB corpus shuffles KBs per
  * stratum instead of sorting whole strata under a window. Hash ties
  * break by id, so the result is total-order deterministic.
  */
object Sampling {

  def perStratum(df: DataFrame, stratumCol: String, idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val h = "__samp_h"
    require(!df.columns.contains(h), s"column name $h is reserved by perStratum")
    graft.plans.TopKPerGroup
      .topK(df.withColumn(h, Fns.fnv1a32(col(idCol).cast("string"))),
        Seq(stratumCol), Seq(col(h).asc, col(idCol).asc), k)
      .drop(h)
  }

  /** Mixture sampling — the data-mixing primitive: per-stratum QUOTAS
    * (e.g. upweight curated sources, downweight crawl), selected in the
    * same deterministic hash order as [[perStratum]]. Strata absent from
    * `quotas` are dropped (quota 0).
    *
    * Scale design: one TopKPerGroup pass at k = max(quota) prunes the
    * corpus to ≤ k rows per (stratum × input partition) map-side; the
    * exact per-stratum cut (row_number ≤ quota) then runs on that pruned,
    * quota-bounded set — the full corpus never sees a window sort.
    */
  def mixture(df: DataFrame, stratumCol: String, idCol: String,
      quotas: Map[String, Int]): DataFrame = {
    require(quotas.nonEmpty, "quotas must be non-empty")
    require(quotas.values.forall(_ >= 1), s"quotas must be >= 1: $quotas")
    val h = "__samp_h"
    val rn = "__samp_rn"
    require(!df.columns.contains(h) && !df.columns.contains(rn),
      s"column names $h/$rn are reserved by mixture")
    val kmax = quotas.values.max
    val quotaCol = quotas.foldLeft(lit(0)) { case (acc, (s, k)) =>
      when(col(stratumCol) === s, lit(k)).otherwise(acc)
    }
    val order = Seq(col(h).asc, col(idCol).asc)
    val pruned = graft.plans.TopKPerGroup.topK(
      df.withColumn(h, Fns.fnv1a32(col(idCol).cast("string"))),
      Seq(stratumCol), order, kmax)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol).orderBy(order: _*)
    pruned.withColumn(rn, row_number().over(w))
      .filter(col(rn) <= quotaCol)
      .drop(h, rn)
  }

  /** Temperature-weighted mixture sampling — the GPT-3 / multilingual-
    * BERT source-reweighting rule: stratum i receives quota
    * floor(totalN · cᵢᵀ / Σⱼ cⱼᵀ) (min 1 per present stratum), with
    * T ∈ (0, 1] the temperature — T = 1 is proportional allocation,
    * smaller T flattens the mixture toward uniform (upsampling rare
    * sources relative to their share). Unlike [[mixture]] the quotas are
    * DERIVED FROM THE DATA, fully distributed: per-stratum counts are a
    * partial-agg, the normalizer Z rides a 1-row broadcast, the quota
    * table is stratum-sized and broadcast to the cut — no counts ever
    * collect to the driver. Rows are selected in [[perStratum]]'s
    * deterministic FNV hash order.
    *
    * The quota expression rounds to 9dp before floor on BOTH engines so
    * a last-ulp pow/summation difference cannot flip the floor. totalN is
    * a TARGET, not an exact bound, in both directions: floor allocation
    * can sum slightly under totalN (standard remainder loss), and the
    * min-1 bump can push the sum ABOVE totalN when many strata are rare
    * enough that their floored share is 0 (up to one extra row per such
    * stratum — with S strata the sum is ≤ totalN + S − 1). Callers
    * needing an exact total distribute the remainder (or trim the
    * bumped rows) by largest-fraction downstream.
    *
    * Scale design: same plan as [[mixture]] — one TopKPerGroup pass at
    * k = totalN bounds map-side state at totalN rows per (stratum ×
    * partition) and the exact quota cut's window runs over ≤ totalN rows
    * per stratum, never the corpus.
    *
    * Two branches consume the input (the per-stratum histogram and the
    * TopKPerGroup cut); `persistInput = true` caches it (MEMORY_AND_DISK,
    * TfIdf.scored's explicit-persist pattern) so an expensive upstream
    * subquery — or a 100 TB scan — materializes once instead of twice.
    */
  def temperatureMixture(df: DataFrame, stratumCol: String, idCol: String,
      temperature: Double, totalN: Int,
      persistInput: Boolean = false): DataFrame = {
    require(temperature > 0 && temperature <= 1,
      s"temperature must be in (0, 1], got $temperature")
    require(totalN >= 1, s"totalN must be >= 1, got $totalN")
    val h = "__samp_h"
    val rn = "__samp_rn"
    require(!df.columns.contains(h) && !df.columns.contains(rn),
      s"column names $h/$rn are reserved by temperatureMixture")
    val in = if (persistInput)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else df
    val cnt = in.groupBy(stratumCol)
      .agg(count(lit(1)).cast("double").as("__c"))
    val z = cnt.agg(sum(pow(col("__c"), lit(temperature))).as("__z"))
    val quotas = cnt.crossJoin(broadcast(z))
      .select(col(stratumCol),
        greatest(lit(1L),
          floor(round(lit(totalN.toDouble) * pow(col("__c"), lit(temperature))
            / col("__z"), 9)).cast("long")).as("quota"))
    val order = Seq(col(h).asc, col(idCol).asc)
    val pruned = graft.plans.TopKPerGroup.topK(
      in.withColumn(h, Fns.fnv1a32(col(idCol).cast("string"))),
      Seq(stratumCol), order, totalN)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol).orderBy(order: _*)
    pruned.join(broadcast(quotas), Seq(stratumCol))
      .withColumn(rn, row_number().over(w))
      .filter(col(rn) <= col("quota"))
      .drop(h, rn)
  }

  /** Deterministic weighted sampling (Efraimidis–Spirakis A-ES): each row
    * gets priority key ln(u)/w with u = (fnv1a32(id)+1)/2^31 ∈ (0,1] —
    * a pure function of the id, not an RNG — and the k largest keys win,
    * so P(selected) scales with the weight exactly as in weighted
    * reservoir sampling. The key is rounded to 6dp before ranking (ties
    * break by id) so the JVM and C libm `ln` agree bit-for-bit after
    * rounding — u and the division are IEEE-exact on both engines.
    *
    * WEIGHTS MUST BE >= 1: weights are clamped up to 1.0
    * (`greatest(w, 1.0)`), so fractional/zero/negative weights all
    * behave as weight 1, NOT as proportionally-lower priority. The clamp
    * guards ln(u)/0 = -Inf (which would break the deterministic rank) and
    * is mirrored verbatim in the DuckDB oracle; scale weights so the
    * minimum is 1 (e.g. multiply all weights by 1/min) if you need
    * fractional ratios.
    *
    * Scale design: orderBy+limit plans as TakeOrderedAndProject — each
    * input partition keeps a k-row heap map-side and the driver merges
    * k·partitions rows; the corpus is never globally sorted or shuffled.
    */
  def weighted(df: DataFrame, idCol: String, weight: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = greatest(weight.cast("double"), lit(1.0))
    val u = (Fns.fnv1a32(col(idCol).cast("string")) + 1) / lit(2147483648.0)
    df.select(col(idCol), w.as("w"),
        round(log(u) / w, 6).as("rk"))
      .orderBy(col("rk").desc, col(idCol))
      .limit(k)
  }

  /** Quantile (curriculum) binning: every row gets a bin in [1, nBins]
    * by exact score quantiles — curriculum schedules and
    * difficulty-stratified ablations order training data by exactly this.
    * Cutoffs are ONE aggregate row (nBins−1 doubles) broadcast to a
    * per-row comparison — the corpus is never sorted or windowed; at
    * 100 TB swap the exact `percentile` for `approx_percentile` (same
    * plan shape, sketch-merge aggregate) — the exact form here is the
    * oracle-checkable baseline. Cutoffs are rounded to 6dp before the
    * comparison so last-ulp interpolation differences between engines
    * cannot flip a boundary row's bin. A NULL score compares NULL
    * against every cutoff and lands in bin 1 (filter treats NULL as
    * false) — gate nulls out upstream if that matters.
    */
  def quantileBins(df: DataFrame, idCol: String, score: Column,
      nBins: Int): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, s"nBins must be in [2,1000], got $nBins")
    val scored = df.select(col(idCol), score.cast("double").as("score"))
    val qs = (1 until nBins).map(i => i.toDouble / nBins)
    val cuts = scored
      .agg(expr(s"percentile(score, array(${qs.mkString(", ")}))").as("p"))
      .select(expr("transform(p, c -> round(c, 6))").as("cuts"))
    scored.crossJoin(broadcast(cuts))
      .select(col(idCol), col("score"),
        (lit(1) + size(filter(col("cuts"), c => col("score") > c)))
          .cast("int").as("bin"))
  }

  /** Near-dup-leakage-safe train/val/test split: documents are split by
    * the HASH OF THEIR DEDUP GROUP, not their own id, so every member of
    * a near-duplicate cluster lands in the same split — the standard
    * guard against eval contamination by paraphrase/near-copies of
    * training rows. 80/10/10 by fnv1a32(group_id) % 10.
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, nearDupPairs: DataFrame): DataFrame = {
    val grouped = ConnectedComponents.dedupGroups(docs, idCol, nearDupPairs)
    grouped.select(col("doc_id"), col("group_id"),
      splitForGroup(col("group_id")).as("split"))
  }

  /** The 80/10/10 bucket-to-split rule — fnv1a32(group_id) % 10 → 0-7
    * train, 8 val, 9 test. ONE definition shared by [[leakageSafeSplit]]
    * and the pipeline compositions that split over already-computed
    * components (p92_pipeline_e2e), so a policy change here cannot
    * silently desynchronize them. (p92's DuckDB oracle pins
    * the same rule independently in SQL.)
    */
  def splitForGroup(groupId: Column): Column = {
    val bucket = Fns.fnv1a32(groupId.cast("string")) % 10
    when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test")
  }
}
