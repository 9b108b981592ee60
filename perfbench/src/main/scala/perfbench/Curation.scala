package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession, functions}
import org.apache.spark.sql.functions._

import graft.api.Tables
import graft.operators.{BloomPrune, ConnectedComponents, Decontaminate,
  Dedup, IdAssign, Sampling, TextAnalysis}
import graft.queries.PipelineE2e

/** `curation`: the composed curation chain (cross-corpus bloom anti-join,
  * exact dedup, MinHash pairs, connected components, decontamination,
  * quality gate, mixture ids, accounting) — about fifty stages over a
  * small corpus, so scheduling and per-job overhead dominate. */
final class Curation(spark: SparkSession, a: Args) extends Workload {
  private val dir = a.data.toString
  private val results = new Results
  private val stageTimes = mutable.LinkedHashMap[String, Double]()
  private var ccJobs = 0.0
  private var pairsOut = 0.0
  private val AccountColumns = Seq("split", "lang", "n_docs",
    "total_tokens", "avg_quality", "min_gid", "max_gid")

  def setup(rep: Int): Unit =
    Tables.t(spark, dir, "documents").agg(sum(length(col("text")))).collect()

  private val chain = Op("queries.p92_chain", () => {
    val rows = Tracer.span("queries.PipelineE2e.Chain") {
      new PipelineE2e.Chain(spark, dir).account.collect().toSeq }
    () => { results.record("p92_chain", AccountColumns, rows); None }
  })

  /** The chain's time falls over its first runs in a JVM (codegen and
    * plan caches), so two runs warm it up. */
  def warmup: Seq[Op] = Seq(chain, chain)
  def round(r: Int): Seq[Op] = Seq(chain)
  def roundSeconds: Double = 8.0

  /** In traced runs: each chain stage timed on its own, on a
    * materialized input, and the stage-by-stage account checked against
    * the chain's. */
  override def tail: Seq[Op] =
    if (a.trace) Seq(Op("operators.stages", () => {
      val rows = stages()
      () => { results.record("p92_chain", AccountColumns, rows); None }
    }))
    else Nil
  override def traceTail: Boolean = false

  private def cut(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  private def timed(name: String)(f: => DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val out = cut(f)
    stageTimes(name) = (System.nanoTime() - t0) / 1e9
    out
  }

  private def stages(): Seq[org.apache.spark.sql.Row] = {
    val fp = cut(Tables.t(spark, dir, "documents").withColumn("fp",
      graft.functions.Fns.rollingHash31(substring(col("text"), 1, 200))))
    val docs = timed("bloom_anti_keep") {
      BloomPrune.antiKeep(facts = fp.filter(col("doc_id") % 7 =!= 0),
        keyCol = "fp", dimKeys = fp.filter(col("doc_id") % 7 === 0)
          .select("fp"), dimKeyCol = "fp", numBits = 1 << 14).drop("fp")
    }
    val exact = timed("exact_groups") {
      docs.join(Dedup.exactGroups(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id")), "doc_id")
    }
    val pairs = timed("minhash_pairs") {
      Dedup.minhashNearDupPairs(exact, "doc_id", "text", shingleSize = 3,
        numHashes = 128, bands = 32, threshold = 0.8)
    }
    pairsOut = pairs.count().toDouble
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    val groups = try timed("cc_groups") {
      ConnectedComponents.dedupGroups(exact, "doc_id", pairs)
    } finally {
      org.apache.spark.sql.graftshim.Bridge.waitForListeners(spark)
      spark.sparkContext.removeSparkListener(counter)
    }
    ccJobs = jobs.get.toDouble
    val nearDeduped = cut(exact.join(
      groups.filter(col("is_rep")).select("doc_id"), "doc_id"))
    val decontaminated = timed("decontaminate") {
      Decontaminate.clean(nearDeduped.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", n = 4)
    }
    val kept = timed("quality_gate") {
      decontaminated.select(col("*") +:
          (TextAnalysis.analysisColumns(col("text")) ++
            TextAnalysis.repetitionColumns(col("text"))): _*)
        .filter(col("quality_score") > 3.0 &&
          col("n_tokens") >= 10 && col("dup_3gram_frac") < 0.5)
    }
    val withIds = timed("mixture_ids") {
      val quotas = (0 until 20).map(i =>
        s"src$i" -> (if (i % 2 == 0) 25 else 10)).toMap
      IdAssign.contiguousIds(
        Sampling.mixture(kept, "source", "doc_id", quotas),
        col("doc_id"), "gid")
    }
    withIds.join(groups.select("doc_id", "group_id"), "doc_id")
      .withColumn("split", Sampling.splitForGroup(col("group_id")))
      .groupBy("split", "lang").agg(
        count(lit(1)).as("n_docs"),
        sum("ws_tokens").as("total_tokens"),
        functions.round(avg("quality_score"), 3).as("avg_quality"),
        min("gid").as("min_gid"),
        max("gid").as("max_gid"))
      .orderBy("split", "lang").collect().toSeq
  }

  override def layer(ops: Seq[OpRec], traced: Seq[OpStats]): Map[String, Double] =
    stageTimes.map { case (k, v) => s"operators.${k}_s" -> v }.toMap ++ Map(
      "operators.cc_jobs" -> ccJobs,
      "operators.minhash_pairs_out" -> pairsOut)

  override def deferred: Seq[Map[String, Any]] = Seq(Map(
    "kind" -> "expected", "name" -> "p92_chain",
    "sql" -> graft.SparkEntry.oracleSql("p92_pipeline_e2e"),
    "results" -> results.json("p92_chain")))
}
