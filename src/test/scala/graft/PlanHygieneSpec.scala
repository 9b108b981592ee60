package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite
import graft.api.Registry
import PlanHygieneSpec.{counts, sweep}

/** Whole-registry plan audit: no query may regress into a cross product.
  * Planning only — nothing executes — so this sweeps all queries in
  * seconds and permanently pins the "no all-pairs node anywhere" claim
  * PLANS.md makes (the first property to silently rot when a join
  * condition is edited).
  */
class PlanHygieneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // Every BNLJ in the engine is a deliberate small-broadcast design,
  // enumerated here so a NEW one fails loudly:
  //  - q20_theta_join: pure theta, no equi conjunct exists — BNL over the
  //    broadcast dim is the correct plan at any scale
  //  - q54_bloom_prune: the "join" is a one-row broadcast carrying the
  //    bloom bitmap to every task — O(n) by construction
  //  - p09_ann_bruteforce: brute-force ANN is all-pairs BY DEFINITION;
  //    the query side is the small broadcast, the corpus streams
  //  - p13_ann_ivf: query × 16 centroids assignment (nlist is a constant)
  //  - p23_tfidf_topterms: the corpus size N joins in as a ONE-ROW
  //    broadcast aggregate (the alternative is a driver-side collect)
  //  - p29_cross_corpus_dedup: BloomPrune.antiKeep cross-broadcasts the
  //    ONE-ROW bloom bitmap to every task — same q54 pattern
  //  - p30_lm_score: the corpus token total joins in as a ONE-ROW
  //    broadcast aggregate — same p23 pattern
  //  - p33_collocations: the token and bigram totals join in as ONE-ROW
  //    broadcast aggregates — same p23/p30 pattern
  //  - p34_ann_quantized: brute force over int8 codes — all-pairs BY
  //    DEFINITION like p09; queries broadcast, corpus streams
  //  - p35_hard_negatives: p09's brute-force shape with a band filter
  //  - p37_corpus_drift: the (nr, nc, v) totals join in as a ONE-ROW
  //    broadcast aggregate — same p23/p30/p33 pattern
  //  - p38_ref_lm_score: the reference-LM (n, v) totals join in as a
  //    ONE-ROW broadcast aggregate — same pattern
  //  - p42_bigram_lm: the vocabulary size V joins in as a ONE-ROW
  //    broadcast aggregate — same p23/p30/p38 pattern
  //  - p50_temperature_mixture: the normalizer Z joins in as a ONE-ROW
  //    broadcast aggregate — same p23/p30 pattern
  //  - p51_curriculum_bins: the quantile-cutoff array joins in as a
  //    ONE-ROW broadcast aggregate — same pattern
  //  - p55_interp_lm: the (N, V) totals join in as a ONE-ROW broadcast
  //    aggregate — same p30/p38/p42 pattern
  private val bnljAllowed = Set("q20_theta_join", "q54_bloom_prune",
    "p09_ann_bruteforce", "p13_ann_ivf", "p23_tfidf_topterms",
    "p29_cross_corpus_dedup", "p30_lm_score", "p33_collocations",
    "p34_ann_quantized", "p35_hard_negatives", "p37_corpus_drift",
    "p38_ref_lm_score", "p42_bigram_lm", "p50_temperature_mixture",
    "p51_curriculum_bins", "p55_interp_lm",
    // p58: the only BNLJ is queries × the parameter-sized centroid
    // table (nlist rows, broadcast) — p13's shape against a stored index
    "p58_ann_index_exhaustive",
    // p64: eval-side broadcast brute force by design — p09's envelope
    // with the decontamination asymmetry argument (eval is benchmarks)
    "p64_semantic_decontaminate",
    // p70: the (nt, nr) totals join in as a ONE-ROW broadcast
    // aggregate — the p23/p30/p37 pattern
    "p70_dsir_selection",
    // p83: the (n_docs, avgdl) totals join in as a ONE-ROW broadcast
    // aggregate — same pattern
    "p83_bm25_topk",
    // p87: scores exact cosine retrieval via bruteForceTopK — p09's
    // brute-force-by-design envelope; the metrics themselves are
    // broadcast equi-joins
    "p87_retrieval_metrics",
    // p91: the (min, max) score-range pair joins in as a ONE-ROW
    // broadcast aggregate — the p23/p30/p70/p83 pattern
    "p91_calibration_bins",
    // p92: composes p29's cross-corpus stage, inheriting its allowlisted
    // ONE-ROW bloom-bitmap broadcast — no data-proportional BNLJ
    "p92_pipeline_e2e")

  // Pinned physical-plan node counts for the audited headline queries —
  // the numeric form of PLANS.md's prose claims ("q68: one data exchange,
  // two stacked windows"), so an edit that silently adds a shuffle or
  // de-stacks a window fails HERE, not in a bench regression three rounds
  // later. Counted with AQE off (static plans — AQE re-plans at runtime
  // but from exactly this starting shape) via PlanHygieneSpec.counts; totals
  // INCLUDE each query's deterministic output-sort range exchange.
  // (query -> (shuffle, broadcast, reused-exchange, window))
  private val pinnedCounts: Map[String, (Int, Int, Int, Int)] = Map(
    "q01_pricing_summary" -> (2, 0, 0, 0), // agg + output sort
    "q04_priority_revenue" -> (2, 1, 0, 0), // shuffle join by design
    "q05_region_revenue" -> (2, 5, 0, 0), // 5 broadcast dims, fact never shuffled
    "q09_topk_per_customer" -> (2, 0, 0, 1),
    "q38_topk_physical" -> (2, 0, 0, 0), // TopKPerGroup: no WindowExec
    "q53_compact_latest" -> (2, 0, 0, 0),
    "q57_gap_fill" -> (3, 0, 0, 1),
    "q62_scd2_build" -> (2, 0, 0, 1), // single window exchange
    "q66_event_transitions" -> (3, 0, 0, 1),
    "q68_funnel" -> (2, 0, 0, 2), // N-stage funnel stacked on ONE data exchange
    "q69_time_weighted_avg" -> (2, 0, 0, 1),
    "q70_retention_cohorts" -> (4, 1, 0, 0),
    "q75_salted_topk" -> (3, 0, 0, 0), // two-phase salted TopK: no window
    // round-18: 7/2-reused -> 6/0 — the shingle frame is cut with an
    // eager localCheckpoint (see minhashNearDupPairs), so the raw-text
    // exchange and its two reuses left the static plan; the 6 that
    // remain are the two band exchanges, the candidate distinct, the
    // two verify-join exchanges and the output sort
    "p02_minhash_neardup" -> (6, 0, 0, 0),
    // round-19: 3 -> 2 — the auto-probe now collects the bounded eval
    // gram set, so the broadcast builds from a LOCAL relation and the
    // eval scan->shingle->distinct exchange left the main plan (the
    // probe job derives it, once); corpus still never shuffled
    "p17_decontaminate" -> (2, 1, 0, 0),
    "p23_tfidf_topterms" -> (6, 2, 0, 0),
    "p26_mixture_sample" -> (2, 0, 0, 1), // one corpus shuffle + quota window
    "p32_token_entropy" -> (3, 0, 0, 0), // single scan, stacked aggs, no join
    // round-8 additions (fixture-scale static shapes; the small sides
    // that auto-broadcast here become shuffle joins at corpus scale,
    // which AQE re-picks at runtime)
    "q81_kmv_distinct" -> (3, 0, 0, 0), // scatter + partial/final sketch + sort
    "p60_line_dedup" -> (4, 1, 0, 0), // dict branch aggs + broadcast-back + rewrite
    // (5,1,3,0) -> (3,2,2,0): the fixture's near-dup graph fits the
    // broadcast threshold, so componentLabels labels it on the driver and
    // the singleton left join in dedupGroups is a broadcast of a local
    // relation. Its two hash exchanges (and their two reuses in the
    // keeper branch) left the plan; the label broadcast is reused once.
    "p61_semantic_dedup" -> (3, 2, 2, 0), // no window
    "p62_winnowing" -> (2, 1, 0, 0), // per-row selection: join + pair agg only
    "p63_image_neardup" -> (2, 1, 0, 0), // hashes move, pixels never do
    "p64_semantic_decontaminate" -> (2, 1, 0, 0), // eval broadcast, train unshuffled
    "p66_record_linkage" -> (1, 1, 0, 0), // block join + output sort only
    // round-9 additions
    "q84_source_group_pushdown" -> (2, 0, 0, 0), // final-merge agg + output sort
    "q85_storage_partitioned_join" -> (1, 0, 0, 0), // the STORAGE-PARTITIONED
    //   join: the ONLY exchange is the output sort — join and grouped agg
    //   both ride the source-reported key layout
    "p72_quality_classifier" -> (1, 0, 0, 0), // scoring agg on the
    //   checkpointed features; TakeOrdered cut, no sort exchange
    "p75_embedding_covariance" -> (1, 0, 0, 0), // driver matrix re-emitted;
    //   the stats pass is an RDD treeReduce outside this plan
    "p76_sequence_packing" -> (2, 1, 0, 1), // range repartition + output
    //   sort; offsets broadcast; the ONE window is per-pid (never
    //   SinglePartition — PackingSpec pins that separately)
    // round-10 additions
    "p82_exact_substr_dedup" -> (4, 3, 1, 0), // the only corpus-sized
    //   shuffle is the 16-byte (hash,count) partial agg; candidate-hash
    //   broadcast REUSED by the exact-confirm branch; span-string and
    //   matched-starts aggs touch only the candidate slice; island merge
    //   is a HOF fold, no WindowExec
    // round-19: (8,4,1,0) -> (7,3,0,1) — df is a count WINDOW over the
    //   candidate stream instead of a groupBy branch broadcast back, so
    //   the second corpus explode+partial-agg subtree (its exchange, its
    //   agg pair and its broadcast) left the plan; the corpus now pays
    //   its ONE shuffle once. The window partitions the candidate slice
    //   by term — query-vocabulary-sized, the one deliberate WindowExec
    "p83_bm25_topk" -> (7, 3, 0, 1)) // the corpus pays ONE shuffle (the
    //   (id,dl,term) tf partial agg, computed ONCE); the rest are
    //   query-vocabulary-sized (qterms join, df window over the
    //   candidate slice, per-(q,doc) score agg, TopKPerGroup final,
    //   output sort); totals is the 1-row broadcast cross-join
    //   (bnljAllowed)

  test("headline-query exchange/window counts stay pinned (AQE-off static plans)") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val byName = Registry.all.map(q => q.name -> q).toMap
    val drifted = pinnedCounts.toSeq.sortBy(_._1).flatMap { case (name, want) =>
      val q = byName.getOrElse(name, fail(s"pinned query $name not registered"))
      val got = counts(q.run(s, TestSpark.sf0001).queryExecution.executedPlan)
      if (got != want) Some(s"$name: got $got, pinned $want") else None
    }
    assert(drifted.isEmpty,
      "plan shape drifted (update the pin ONLY with a PLANS.md entry " +
        "explaining why the new shape is right):\n" + drifted.mkString("\n"))
  }

  // The persistence PROBES — the plans that carry the 100 TB story: a
  // narrow batch against the bucketed dedup index, a pruned query
  // against the cell-partitioned IVF index, and manifest-listed reads
  // of the DSv2 sink (full + zone-map-skipped). Pinned as (shuffle,
  // broadcast, reused, window) AND scanned-file fractions, so a
  // regression that silently un-prunes a scan or adds an exchange to a
  // probe fails here by number, not in a bench three rounds later.
  test("persistence probes: exchange and scanned-file counts stay pinned") {
    import org.apache.spark.sql.functions._
    import graft.operators.{AnnIndex, IncrementalDedup}
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val root = java.nio.file.Files.createTempDirectory("graft_probe_pins").toString
    val drifted = scala.collection.mutable.ArrayBuffer.empty[String]
    def pin(name: String, got: Any, want: Any): Unit =
      if (got != want) drifted += s"$name: got $got, pinned $want"
    def scanFiles(df: org.apache.spark.sql.DataFrame, dirPart: String): Long =
      df.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains(dirPart)) => f
      }.map(_.metrics("numFiles").value).sum

    // --- p46's narrow-batch probe: bucket-pruned, index never shuffled.
    //     The candidate phase runs inside the probe's own localCheckpoint
    //     job, so its band scan is observed through a QueryExecutionListener
    //     rather than the returned frame's (post-checkpoint) plan.
    val seen = new java.util.concurrent.CopyOnWriteArrayList[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { seen.add(qe.executedPlan); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    val docs = s.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    // 64 buckets + a ONE-doc batch (32 band keys) so bucket pruning has
    // room to show: at most 32 of 64 buckets can be selected
    val dedupP = IncrementalDedup.Params(shingleSize = 3, numHashes = 128,
      bands = 32, threshold = 0.8, numBuckets = 64)
    IncrementalDedup.buildIndex(docs.filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", dedupP, s"$root/dedup")
    // the bus is async: drain before clearing so the build's own plans
    // can't deliver into the probe's capture window after the clear
    org.apache.spark.sql.graftshim.Bridge.waitForListeners(s)
    seen.clear()
    import spark.implicits._
    val probeId = docs.filter(col("doc_id") % 5 === 0)
      .select(min("doc_id")).as[Long].head()
    val batch = docs.filter(col("doc_id") === probeId)
    val dedupProbe = IncrementalDedup.nearDupsAgainstIndex(s, batch,
      "doc_id", "text", dedupP, s"$root/dedup")
    dedupProbe.collect()
    pin("p46_narrow_probe verify-phase counts",
      counts(dedupProbe.queryExecution.executedPlan), (4, 0, 1, 0))
    // the listener bus is asynchronous: drain it before reading the
    // candidate phase's band scan
    org.apache.spark.sql.graftshim.Bridge.waitForListeners(s)
    val scans = {
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq.flatMap(_.collect {
        case f: FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("/bands")) => f
      })
    }
    assert(scans.nonEmpty, "candidate phase's band scan never observed")
    val selectedBuckets = scans.flatMap(_.optionalBucketSet)
      .map(_.cardinality())
    assert(selectedBuckets.nonEmpty && selectedBuckets.max <= 32,
      s"one-doc probe must bucket-prune the 64-bucket band index to <= 32 " +
        s"selected buckets, got $selectedBuckets")
    s.listenerManager.unregister(listener)

    // --- p58's pruned probe: nprobe=1 of 8 cells, no WindowExec
    val e = s.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val annP = AnnIndex.Params(nlist = 8, dims = 64)
    AnnIndex.buildIndex(e, "vec_id", "embedding", annP, s"$root/ann")
    val annProbe = AnnIndex.topKAgainstIndex(s,
      e.filter(col("vec_id") === 0), "vec_id", "embedding", 5, 1, annP,
      s"$root/ann")
    annProbe.collect()
    pin("p58_pruned_probe counts",
      counts(annProbe.queryExecution.executedPlan), (3, 2, 0, 0))
    val cellFilesTotal = s.read.parquet(s"$root/ann/postings").inputFiles.length
    val cellFilesRead = scanFiles(annProbe, "/postings")
    assert(cellFilesRead < cellFilesTotal && cellFilesRead >= 1,
      s"nprobe=1 must partition-prune the postings " +
        s"($cellFilesRead of $cellFilesTotal)")

    // --- q78's manifest read: full-table scan through the connector
    s.range(0, 4000).select(col("id"),
        (col("id") % 97).cast("double").as("x"))
      .repartition(4)
      .write.format("graft.sources.ManifestTable")
      .option("path", s"$root/sink").mode("overwrite").save()
    val fullRead = s.read.format("graft.sources.ManifestTable")
      .option("path", s"$root/sink").load()
      .groupBy().agg(count(lit(1)).as("n"), sum("id").as("s"))
    fullRead.collect()
    pin("q78_manifest_read counts",
      counts(fullRead.queryExecution.executedPlan), (1, 0, 0, 0))
    pin("q78_manifest_read files",
      "files=(\\d+)/(\\d+)".r.findFirstMatchIn(
        fullRead.queryExecution.executedPlan.toString).map(_.matched),
      Some("files=4/4"))

    // --- q80's zone-map-skipped manifest read: range-clustered write,
    //     selective range read touches <= 2 of 8 files
    s.range(0, 4000).select(col("id"),
        (col("id") % 97).cast("double").as("x"))
      .repartitionByRange(8, col("id"))
      .write.format("graft.sources.ManifestTable")
      .option("path", s"$root/sink80").mode("overwrite").save()
    val skipRead = s.read.format("graft.sources.ManifestTable")
      .option("path", s"$root/sink80").load()
      .filter(col("id") >= 1000L && col("id") < 1500L)
      .groupBy().agg(count(lit(1)).as("n"), sum("id").as("s"))
    skipRead.collect()
    pin("q80_manifest_skip counts",
      counts(skipRead.queryExecution.executedPlan), (1, 0, 0, 0))
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(
      skipRead.queryExecution.executedPlan.toString)
    assert(m.exists(mm => mm.group(2).toInt == 8 && mm.group(1).toInt <= 2),
      s"zone maps must skip to <=2 of 8 files, got ${m.map(_.matched)}")

    assert(drifted.isEmpty,
      "persistence-probe plan shape drifted (update the pin ONLY with a " +
        "PLANS.md entry explaining why):\n" + drifted.mkString("\n"))
  }

  // p92's efficiency contract in numbers: the e2e chain claims
  // "components computed once, analysis as a projection" — a silent
  // edit re-introducing a double component computation (or joining
  // analyze() back on doc_id) would only surface as a bench drift three
  // rounds later. Pin the SCAN BUDGET instead: the total number of
  // parquet scans of `documents` across EVERY job the chain runs
  // (checkpoint jobs included, observed through a listener — the
  // component phase materializes inside localCheckpoint, so the final
  // frame's plan alone undercounts).
  test("p92 scan budget: documents is scanned a pinned number of times end-to-end") {
    val s = spark.newSession()
    val seen = new java.util.concurrent.CopyOnWriteArrayList[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { seen.add(qe.executedPlan); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    val docScans = try {
      Registry.byName("p92_pipeline_e2e").run(s, TestSpark.sf0001).count()
      org.apache.spark.sql.graftshim.Bridge.waitForListeners(s)
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq.flatMap(PlanFlatten.flatten).collect {
        case f: FileSourceScanExec if f.metadata.get("Location")
          .exists(_.contains("documents.parquet")) => f
      }
    } finally s.listenerManager.unregister(listener)
    assert(docScans.nonEmpty, "no documents scan observed — listener broke")
    // ROUND-18 (optimization): 30 -> 4. The chain's fan-out frames
    // (docs and exactDeduped) are now cut with eager localCheckpoints
    // (PipelineE2e.Chain), so the scan+bloom prefix and the md5 dedup
    // no longer recompute per consuming branch — measured 7.47 ->
    // ~5.7 s on the full chain (TimeQ, sf0.1, min-of-5). The 4
    // remaining scans all happen inside the single docs-checkpoint
    // job (the bloom build's dim leg plus the facts side, each with
    // its reuse twin). A re-introduced re-derivation (the pre-r18
    // shape) lands at ~30 and trips this pin from above; a lost
    // branch trips it from below.
    // round-19 (advice item): a tight RANGE instead of exactly-4 — the
    // 4th scan is the bloom build's planner-detail reuse twin, so a
    // benign planner/AQE change can land at 3 or 5 without any
    // re-derivation regression. The failure mode this pin exists for
    // (a lost checkpoint re-deriving the prefix per branch) lands at
    // ~30 — far outside the band either way.
    assert(docScans.size >= 2 && docScans.size <= 6,
      s"p92's documents scan budget drifted: got ${docScans.size}, " +
        "expected 2..6 around the pinned 4 (update ONLY with a PLANS.md " +
        "entry explaining why the new budget is right)")
  }

  // ROUND-19 (verdict ask #8 — the core-axis scaling gap): at sf0.1
  // every benched query is fixed-overhead bound, so the 8-vs-32-core
  // bench ratios sit near 1 and cannot distinguish "overhead-bound at
  // this SF" from "a newly serialized hot stage". This pin closes the
  // gap structurally: the compute-dense stage of the minhash path (the
  // shingle+signature materialization both p02 and p92 run through
  // Dedup.minhashNearDupPairs' checkpoint) must execute with MORE THAN
  // ONE task — the spread is core-derived (defaultParallelism), so a
  // regression that collapses it to a single task (a lost repartition,
  // a planner change folding the exchange away) trips here at any SF,
  // long before a bench could see it.
  test("the minhash heavy stage runs with >1 task (core-axis scaling guard)") {
    val s = spark.newSession()
    val stages = new java.util.concurrent.CopyOnWriteArrayList[(String, Int)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.add((e.stageInfo.name, e.stageInfo.numTasks)); ()
      }
    }
    s.sparkContext.addSparkListener(listener)
    try {
      Registry.byName("p02_minhash_neardup").run(s, TestSpark.sf0001).count()
      org.apache.spark.sql.graftshim.Bridge.waitForListeners(s)
      import scala.jdk.CollectionConverters._
      val checkpointStages = stages.asScala.toSeq
        .filter(n => n._1.contains("localCheckpoint at Materialize.scala")
          || n._1.contains("checkpoint at Materialize.scala"))
      assert(checkpointStages.nonEmpty,
        "no Materialize.cut stage observed (p02's one cut is the " +
          "shingle frame) — the listener or the " +
          "checkpoint moved; re-point this pin")
      assert(checkpointStages.exists(_._2 > 1),
        s"the shingle/signature materialization ran single-task: " +
          s"$checkpointStages — the core-derived spread " +
          "(minhashNearDupPairs' repartition) regressed")
    } finally s.sparkContext.removeSparkListener(listener)
  }

  test("q82's SQL-defined function is INLINED — no function-call node survives analysis") {
    val q = Registry.byName("q82_sql_udf")
    val plan = q.run(spark, TestSpark.sf0001).queryExecution.executedPlan
    val s = plan.toString
    assert(!s.contains("graft_margin"),
      s"the SQL UDF body must be inlined by the analyzer, not invoked:\n$s")
    // the bound :qmax parameter reaches the scan as a pushed filter —
    // parameterization costs no pushdown
    assert(s.contains("LessThan(l_quantity,25.0)"),
      s"the parameterized predicate must push into the parquet scan:\n$s")
  }

  // ROUND-19 (advice item): FilterSweep joins the gate. Round-18 found
  // (and fixed) two queries whose pushed-down guards re-ran a full
  // minhash/BPE encode per row inside the parquet scan's Filter; the
  // repo-wide sweep has been zero-hit since, so ANY hit here is a
  // regression of that class — e.g. minhashSignatures' input guard
  // alias-inlined into size(shingle_array(...)) > 0 below a
  // non-checkpointed caller.
  test("no expensive expression in any scan or Filter predicate (FilterSweep)") {
    val hits = sweep(spark, TestSpark.sf0001)
    assert(hits.isEmpty,
      "expensive expressions reached filter predicates:\n" +
        hits.map { case (n, h) => s"$n\n  ${h.mkString("\n  ")}" }
          .mkString("\n"))
  }

  // the positive control: a matcher that never fires would pass the
  // zero-hit gate above, so a plan that re-runs a shingle encode inside
  // its scan predicate must be flagged
  test("FilterSweep flags a shingle encode pushed into a scan predicate") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val plan = s.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .where("size(shingle_array(split(text, ' '), 3)) > 0")
      .queryExecution.executedPlan
    val hits = sweep(plan)
    assert(hits.exists(_.contains("shingle_array")),
      s"the sweep missed an expensive filter predicate:\n$plan")
  }

  // the registry-wide sweep above cannot see below an AQE root. The
  // four shingling queries once ran shingled's `size(sh) > 0` guard,
  // alias-inlined to a full shingle encode, inside their documents scan;
  // the k-means queries once let a join on the computed cell infer
  // isnotnull(cell), which pushed the whole distance array into the
  // embeddings scan (p77 evaluated it three times per row)
  test("no expensive predicate in the final AQE plans of the audited queries") {
    val hits = Seq("p03_ngram_jaccard", "p43_containment",
        "p46_incremental_neardup", "p93_index_purge", "p77_kmeans_lloyd",
        "p13_ann_ivf", "p58_ann_index_exhaustive").flatMap { n =>
      val df = Registry.byName(n).run(spark, TestSpark.sf0001)
      df.collect()
      PlanFlatten.flatten(df.queryExecution.executedPlan)
        .flatMap(sweep).distinct.map(h => s"$n: $h")
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no cartesian product or unexpected BNLJ in any registered query") {
    val offenders = Registry.all.flatMap { q =>
      val plan =
        try q.run(spark, TestSpark.sf0001).queryExecution.executedPlan.toString
        catch { case e: Throwable => fail(s"${q.name} failed to plan: $e") }
      val cartesian = plan.contains("CartesianProduct")
      val bnlj = plan.contains("BroadcastNestedLoopJoin") &&
        !bnljAllowed(q.name)
      if (cartesian || bnlj)
        Some(s"${q.name}: cartesian=$cartesian bnlj=$bnlj")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}

object PlanHygieneSpec {
  /** (shuffle, broadcast, reused-exchange, window) node counts of a
    * physical plan — the numbers behind the pinned-count tables above.
    */
  def counts(plan: SparkPlan): (Int, Int, Int, Int) = {
    val all = plan.collect { case p => p }
    (all.count(_.isInstanceOf[ShuffleExchangeExec]),
      all.count(_.isInstanceOf[BroadcastExchangeExec]),
      all.count(_.isInstanceOf[ReusedExchangeExec]),
      all.count(_.isInstanceOf[WindowExec]))
  }

  /** Expressions too costly to re-run per row inside a scan: the p02/p73
    * round-18 finding, where predicate pushdown copied
    * `isnotnull(minhash_sigs(...))` / `size(bpe_encode_array(...)) > 0`
    * into the parquet scan's Filter and re-ran a full encode per row.
    */
  private val Expensive = Seq("minhash_sigs", "bpe_encode", "wordpiece",
    "shingle_array", "shingle_rows", "sign_projections", "simhash",
    "array_int_dot", "cosine_similarity", "bloom_might_contain",
    "zorder_key", "fnv1a32", "rolling_hash31", "sq_dist")

  /** Filter fragments of `plan` that carry an expensive expression inside
    * a FilterExec condition or a scan's data filters.
    */
  def sweep(plan: SparkPlan): Seq[String] =
    plan.collect {
      case f: FilterExec if Expensive.exists(f.condition.toString.contains) =>
        "Filter: " + f.condition.toString.take(160)
      case sc: FileSourceScanExec if Expensive.exists(e =>
          sc.dataFilters.exists(_.toString.contains(e))) =>
        "ScanFilter: " + sc.dataFilters.mkString(";").take(160)
    }.distinct

  /** (query, filter fragments) for every registered query whose executed
    * plan has a [[sweep]] hit. Queries whose plan fails to build are
    * reported under "[failed] <name>" so a sweep can never silently skip.
    */
  def sweep(s: SparkSession, dir: String): Seq[(String, Seq[String])] =
    Registry.all.flatMap { q =>
      try {
        val hits = sweep(q.run(s, dir).queryExecution.executedPlan)
        if (hits.nonEmpty) Some(q.name -> hits) else None
      } catch { case e: Throwable =>
        Some(s"[failed] ${q.name}" -> Seq(String.valueOf(e.getMessage)))
      }
    }
}
