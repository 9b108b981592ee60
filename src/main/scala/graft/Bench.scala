package graft

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame}
import graft.operators.{AnnIndex, Similarity}
import graft.queries.{PipelineE2e, StorageLayout}

/** Benchmark entry: times the bench groups on SPARK_GRAFT_SF_DIR
  * (default sf0.1) and prints one JSON line, also written to
  * SPARK_GRAFT_BENCH_OUT (default `bench_result.json`).
  *
  * Groups, in run order:
  *  - legacy (`SparkEntry.benchQueries`; `value`, `queries`, ...) and
  *    extended (`SparkEntry.benchQueriesExtended`; `extended*`): each
  *    query warm + min-of-3;
  *  - storage (`StorageLayout.benchPairs`; `storage*`): one timed build,
  *    then the pruned read warm + min-of-3;
  *  - ANN (`ann`): cost and recall@5 of each LSH/IVF setting, min-of-2;
  *  - e2e (`e2e_pipeline`): the p92 curation chain, warm + min-of-2;
  *  - the second pass of legacy, extended, storage and e2e;
  *  - the e2e stage sweep (`e2e_pipeline.stages`): each cumulative
  *    prefix of the chain, min-of-2;
  *  - q87's read legs (`q87_legs`), min-of-3;
  *  - scaling (`scaling`, only for an sf0.1 dir with an sf0.01 sibling):
  *    legacy + top-5 extended + p92 at sf0.01, warm + min-of-5, as the
  *    slope t(sf0.1)/t(sf0.01) against the 10x data ratio.
  *
  * The two-pass groups report the winning pass and the losing pass's
  * minimum (`pass_max`, `*_pass_max*`). A query that fails in either pass
  * reports null, is listed in `failed` and is left out of every total.
  */
object Bench {
  /** One timed measurement: the fastest and the median run, the CPU probe
    * taken right after the runs, and the GC time and heap peak of the runs.
    */
  final case class Sample(min: Double, median: Double, probe: Double,
    gcMs: Long, peakMb: Long)

  private val E2e = "p92_pipeline_e2e"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder(Session.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fns = SparkEntry.queries
    def run(name: String, dir: String): Long = fns(name)(spark, dir).count()
    var failed = List.empty[String]

    // A CPU probe can't see an allocation storm or a GC wall, so every
    // sample also carries the GC time and heap peak of its runs: a slow
    // reading with flat gc/peak is environmental, gc rivaling wall time
    // is the query's own allocation.
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum

    def secs(f: => Any): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // A fixed, data-independent CPU probe: the same code reads up to
    // +40% slower on a loaded shared box, and a probe next to each
    // reading lets the totals be normalized for that load.
    def probe(): Double =
      secs(spark.range(100000000L).selectExpr("sum(id * 3 + 1)").collect())
    // min absorbs GC/compile jitter on a shared box; the median is the
    // robust companion signal
    def measure(runs: Int, probed: Boolean = true)(f: => Any): Sample = {
      val gc0 = gcMs()
      heapPools.foreach(_.resetPeakUsage())
      val times = Seq.fill(runs)(secs(f)).sorted
      val gc = gcMs() - gc0
      val peak = heapPools.map(_.getPeakUsage.getUsed).sum / (1024L * 1024L)
      Sample(times.head, times(runs / 2),
        if (probed) probe() else Double.NaN, gc, peak)
    }
    // a failed query must neither read as fast nor distort a total:
    // it is listed in failed[] and reported as null
    def attempt[A](what: String, query: Boolean = true)(f: => A): Option[A] =
      try Some(f) catch { case e: Throwable =>
        if (query && !failed.contains(what)) failed ::= what
        System.err.println(s"[bench] $what FAILED: ${e.getMessage}")
        None
      }

    probe() // warm codegen for the probe itself
    val probeStart = probe()

    type Pass = Seq[(String, Option[Sample])]
    def timeGroup(names: Seq[String]): Pass = names.map { name =>
      // a failed warm-up stays silent: the timed runs report the failure
      try run(name, sfDir) catch { case _: Throwable => () }
      name -> attempt(name)(measure(3)(run(name, sfDir)))
    }
    // Every group except ANN runs in two passes minutes apart. Box load
    // that spans one pass's runs and ends before its probe is invisible
    // to every per-pass signal; across two passes such a phantom is slow
    // in one and fast in the other, while a real regression is slow in
    // both, so the artifact itself tells them apart.
    def crossPass(p1: Pass, p2: Pass): Seq[(String, Option[(Sample, Double)])] =
      p1.zip(p2).map { case ((k, a), (_, b)) =>
        k -> (for (x <- a; y <- b)
          yield if (y.min < x.min) (y, x.min) else (x, y.min))
      }

    // every storage builder deletes and recreates its sink, so each pass
    // builds once; the pruned read is the signal that must stay flat
    def storagePass(): (Pass, Pass) =
      StorageLayout.benchPairs.map { case (name, mk) =>
        val s = attempt(name) {
          var read: () => DataFrame = null
          val build = measure(1) { read = mk(spark, sfDir) }
          read().count() // warm
          (build, measure(3)(read().count()))
        }
        (name -> s.map(_._1), name -> s.map(_._2))
      }.unzip
    def e2ePass(): Option[Sample] =
      attempt(E2e) { run(E2e, sfDir); measure(2)(run(E2e, sfDir)) }

    val legacyP1 = timeGroup(SparkEntry.benchQueries)
    val extP1 = timeGroup(SparkEntry.benchQueriesExtended)
    val (buildsP1, readsP1) = storagePass()

    // p10/p13 have no SQL oracle (approximate by design), so each knob
    // setting is timed and scored for recall@5 against the exact
    // brute-force top-k (fixed seeds: a recall change is a code change)
    val annJson = attempt("ann group", query = false) {
      import org.apache.spark.sql.functions._
      val uniform = graft.api.Tables.t(spark, sfDir, "embeddings")
      // uniform random vectors are the adversarial floor for any
      // partition-based ANN; real embedding spaces are clustered, so the
      // ladder also runs on 16 deterministic Gaussian-like clusters over
      // the same ids and dims
      val dims = uniform.select(size(col("embedding"))).first().getInt(0)
      def h01(cols: Column*) =
        (pmod(hash(cols: _*), lit(20001)) - lit(10000)).cast("double") / 10000.0
      val clustered = uniform.select(col("vec_id"),
        transform(sequence(lit(0), lit(dims - 1)),
          d => (h01(col("vec_id") % 16, d) +
            h01(col("vec_id"), d, lit(7)) * lit(0.15)).cast("float"))
          .as("embedding"))
      def ladder(e: DataFrame): String = {
        val q = e.filter(col("vec_id") % 50 === 0)
        def pairs(df: DataFrame): Set[(Long, Long)] =
          df.select("qid", "nid").collect()
            .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
            .toSet
        val exact = pairs(Similarity.bruteForceTopK(q, e, 5))
        val idxPath = java.nio.file.Files
          .createTempDirectory("graft_bench_annidx").toString
        val ip = AnnIndex.Params(nlist = 16, dims = dims)
        val buildSec =
          secs(AnnIndex.buildIndex(e, "vec_id", "embedding", ip, idxPath))
        def idxProbe(np: Int) = () =>
          AnnIndex.topKAgainstIndex(spark, q, "vec_id", "embedding", 5, np, ip, idxPath)
        val settings = Seq(
          "lsh_t2_p1" -> (() => Similarity.lshTopK(q, e, 5, tables = 2, probeBits = 1)),
          "lsh_t4_p2" -> (() => Similarity.lshTopK(q, e, 5, tables = 4, probeBits = 2)),
          "lsh_t6_p2" -> (() => Similarity.lshTopK(q, e, 5)), // p10's defaults
          "ivf_np1" -> (() => Similarity.ivfTopK(q, e, 5, nprobe = 1)),
          "ivf_np2" -> (() => Similarity.ivfTopK(q, e, 5, nprobe = 2)),
          "ivf_np4" -> (() => Similarity.ivfTopK(q, e, 5)), // p13's defaults
          "ivfidx_np1" -> idxProbe(1),
          "ivfidx_np2" -> idxProbe(2),
          "ivfidx_np4" -> idxProbe(4)
        ).map { case (name, f) =>
          // the recall run doubles as the warm-up; an empty exact set
          // (degenerate fixture) reports recall 0.0, not NaN
          val recall = if (exact.isEmpty) 0.0
            else (pairs(f()).intersect(exact).size.toDouble /
              exact.size * 1e4).round / 1e4
          name -> obj("sec" -> measure(2, probed = false)(f().count()).min,
            "recall" -> recall)
        }
        obj(settings :+ ("ivfidx_build_sec" -> buildSec): _*)
      }
      obj("uniform" -> ladder(uniform), "clustered" -> ladder(clustered))
    }
    val e2eP1 = e2ePass()

    val legacyP2 = timeGroup(SparkEntry.benchQueries)
    val extP2 = timeGroup(SparkEntry.benchQueriesExtended)
    val (buildsP2, readsP2) = storagePass()
    val e2e = crossPass(Seq(E2e -> e2eP1), Seq(E2e -> e2ePass())).head._2
    val legacy = crossPass(legacyP1, legacyP2)
    val ext = crossPass(extP1, extP2)
    val builds = crossPass(buildsP1, buildsP2)
    val reads = crossPass(readsP1, readsP2)

    val e2eJson = e2e.map { case (s, passMax) =>
      // stage shares are the signal here (everything is warm after four
      // chain runs); min-of-2 because a single-timed prefix under a load
      // spike reads as a stage regression
      val stages = attempt("e2e stage sweep", query = false) {
        obj(PipelineE2e.stageThunks(spark, sfDir).map { case (label, f) =>
          label -> measure(2, probed = false)(f()).min
        }: _*)
      }
      obj("sec" -> s.min, "pass_max" -> passMax, "probe" -> s.probe,
        "stages" -> stages.getOrElse("null"))
    }
    // q87's DPP read splits into the dim leg (orders scan + month filter +
    // distinct, recomputed by DPP on every read) and the fact floor (the
    // pruned partitions with static literals); the rest of the full read
    // is the DPP subquery/broadcast machinery
    val q87Legs = attempt("q87 leg sweep", query = false) {
      def best(f: => Any): Double = { f; measure(3, probed = false)(f).min }
      val dim = () => StorageLayout.q87Dim(spark, sfDir)
      val months = dim().collect().map(_.getString(0)).toSeq.sorted
      obj("dim_s" -> best(dim().count()),
        "fact_static_s" ->
          best(StorageLayout.q87FactStatic(spark, sfDir, months).count()))
    }

    val scalingJson = {
      val smallDir = new java.io.File(sfDir).getParent + "/sf0.01"
      if (!sfDir.endsWith("sf0.1") || !new java.io.File(smallDir).isDirectory) None
      else {
        def won(rs: Seq[(String, Option[(Sample, Double)])]) =
          rs.collect { case (k, Some((s, _))) => k -> s }
        val big = won(legacy) ++ won(ext).sortBy(-_._2.min).take(5) ++
          won(Seq(E2e -> e2e))
        def r2(x: Double) = (x * 100).round / 100.0
        val rows = big.flatMap { case (name, b) =>
          attempt(s"scaling $name", query = false) {
            run(name, smallDir) // warm
            // min-of-5: load and GC only ever add time to a 30-150 ms
            // small-sf reading, so the min is its stable estimator (a
            // median-of-3 still moved slopes by 0.5-1.5 across load
            // windows); the big side is already a cross-pass min
            val s = measure(5)(run(name, smallDir))
            // slope_norm scales both sides by their own probes; the ratio
            // is clamped to [0.5, 2] so a probe inflated by a query's
            // aftermath cannot overcorrect
            val pRatio = clamp(0.5, 2.0)(s.probe / b.probe)
            name -> obj("small_s" -> s.min, "small_probe" -> s.probe,
              "big_s" -> b.min,
              "slope" -> (if (s.min > 0) r2(b.min / s.min) else -1.0),
              "slope_norm" -> (if (s.min > 0) r2(b.min / s.min * pRatio) else -1.0))
          }
        }
        Some(obj("small_sf" -> str(smallDir), "data_ratio" -> 10,
          "queries" -> obj(rows: _*), "probe" -> probe()))
      }
    }
    val probeEnd = probe()

    // normalized totals scale each min by (cleanest probe of the run /
    // its own probe). The ratio is clamped to [0.5, 1.0]: a probe can be
    // inflated by the query's own aftermath (GC pressure, page-cache
    // eviction), so at most half of a reading is put down to the box.
    // The legacy/extended reference probe stays off the storage probes so
    // those totals stay comparable with earlier artifacts.
    def probes(ps: Pass*) = ps.flatten.flatMap(_._2).map(_.probe)
    val probeMin = (Seq(probeStart, probeEnd) ++
      probes(legacyP1, legacyP2, extP1, extP2)).min
    val probeMinStorage =
      (probeMin +: probes(buildsP1, readsP1, buildsP2, readsP2)).min
    def total(rs: Seq[(String, Option[(Sample, Double)])])(
        f: ((Sample, Double)) => Double) = rs.flatMap(_._2).map(f).sum
    def normalized(ref: Double)(w: (Sample, Double)) =
      w._1.min * clamp(0.5, 1.0)(ref / w._1.probe)
    def perQuery[A](rs: Seq[(String, Option[A])])(f: A => Any) =
      obj(rs.map { case (k, v) => k -> v.fold("null")(f(_).toString) }: _*)
    val legacyTotal = total(legacy)(_._1.min)

    val json = obj(
      "metric" -> str("total"), "value" -> legacyTotal, "unit" -> str("sec"),
      "queries" -> perQuery(legacy)(_._1.min),
      "medians" -> perQuery(legacy)(_._1.median),
      "probes" -> perQuery(legacy)(_._1.probe),
      "gc_ms" -> perQuery(legacy)(_._1.gcMs),
      "peak_mb" -> perQuery(legacy)(_._1.peakMb),
      "legacy_total" -> legacyTotal,
      "normalized_total" -> total(legacy)(normalized(probeMin)),
      "pass_max" -> perQuery(legacy)(_._2),
      "extended" -> perQuery(ext)(_._1.min),
      "extended_pass_max" -> perQuery(ext)(_._2),
      "extended_probes" -> perQuery(ext)(_._1.probe),
      "extended_gc_ms" -> perQuery(ext)(_._1.gcMs),
      "extended_peak_mb" -> perQuery(ext)(_._1.peakMb),
      "extended_total" -> total(ext)(_._1.min),
      "extended_normalized_total" -> total(ext)(normalized(probeMin)),
      "storage" -> perQuery(builds.zip(reads).map {
        case ((k, b), (_, r)) => k -> b.zip(r) }) {
        case ((b, bMax), (r, rMax)) => obj("build_s" -> b.min,
          "build_max_s" -> bMax, "build_probe" -> b.probe,
          "build_gc_ms" -> b.gcMs, "build_peak_mb" -> b.peakMb,
          "read_s" -> r.min, "read_pass_max_s" -> rMax,
          "read_median_s" -> r.median, "probe" -> r.probe,
          "gc_ms" -> r.gcMs, "peak_mb" -> r.peakMb)
      },
      "storage_build_total" -> total(builds)(_._1.min),
      "storage_build_pass_max" -> total(builds)(_._2),
      "storage_build_normalized_total" ->
        total(builds)(normalized(probeMinStorage)),
      "storage_read_total" -> total(reads)(_._1.min),
      "storage_read_pass_max" -> total(reads)(_._2),
      "storage_read_normalized_total" ->
        total(reads)(normalized(probeMinStorage)),
      "q87_legs" -> q87Legs.getOrElse("null"),
      "ann" -> annJson.getOrElse("null"),
      "e2e_pipeline" -> e2eJson.getOrElse("null"),
      "scaling" -> scalingJson.getOrElse("null"),
      "noise_floor" -> obj("probe_start" -> probeStart, "probe_end" -> probeEnd),
      "failed" -> failed.reverse.map(str).mkString("[", ",", "]"),
      "sf" -> str(sfDir))
    println(json)
    // also drop the line in a file, immune to any log-prefixing of
    // stdout; an unwritable path must not turn a successful bench into a
    // nonzero exit after the line was already printed
    try {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json")), json)
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] could not write bench_result.json: $e")
    }
    spark.stop()
  }

  private def clamp(lo: Double, hi: Double)(x: Double): Double =
    math.max(lo, math.min(hi, x))
  private def str(s: String): String = "\"" + s + "\""
  /** A JSON object; values are already rendered (numbers print as-is). */
  private def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
