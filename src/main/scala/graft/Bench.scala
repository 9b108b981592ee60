package graft

/** Benchmark entry: times the headline queries (SparkEntry.benchQueries)
  * on SPARK_GRAFT_SF_DIR and prints one JSON line. Each query is run once
  * to warm the JVM/codegen caches, then timed — the driver compares the
  * totals round-over-round against BASELINE.md.
  *
  * Three reported groups (round-12 consolidation): the LEGACY 12
  * (unchanged since round 1, the round-over-round comparability anchor
  * — `value`/`legacy_total`), the EXTENDED group (`extended_total`)
  * covering everything newer — including the former r9/r10 per-round
  * groups, folded in round 12 — and the STORAGE group
  * (`storage`, per-query `{build_s, read_s}`): tables build once per
  * process, the pruned read is timed min-of-3.
  *
  * Round-16: the legacy + extended groups run TWICE end-to-end (the
  * storage/ANN groups between the passes as a multi-minute spacer) and
  * report the per-query MIN across passes plus `pass_max` /
  * `extended_pass_max` (the losing pass's minimum) — so a box-load
  * phantom (hot one pass, cold the other) is adjudicated BY the
  * artifact instead of by a post-hoc re-measure.
  *
  * Round-17: the same cross-pass discipline reaches the LAST two
  * groups that lacked it — storage (both builds AND reads run as two
  * passes minutes apart; `build_max_s`/`read_pass_max_s` carry the
  * losing pass, `storage_build_pass_max`/`storage_read_pass_max` the
  * losing totals) and `e2e_pipeline` (`pass_max`). Plus a `scaling`
  * block: the headline queries re-timed at sf0.01 in the same session,
  * reporting per-query slope t(sf0.1)/t(sf0.01) against the 10x data
  * ratio — the measured near-linearity evidence behind SCALE.md.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.builder(Session.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // fixed data-independent CPU probe, timed at start and end: round-2
    // showed uniform ~+40% drift on byte-identical queries (shared-box
    // load); the probe pair lets the driver normalize round-over-round
    // totals and spot a noisy run.
    def probe(): Double = {
      val t0 = System.nanoTime()
      spark.range(100000000L).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    probe() // warm codegen for the probe itself
    val probeStart = probe()
    val fns = SparkEntry.queries
    var failed = List.empty[String]

    // Per-query JVM telemetry (round-13 verdict: the p84 closing
    // reading was 14x its quiet value with flat probes — a CPU probe
    // can't see an allocation storm or a GC wall). gc_ms is the GC-time
    // DELTA across the query's three timed runs (all collector beans);
    // peak_mb is the heap peak-usage high-water across the same window
    // (pools reset before the runs). A slow reading with flat gc/peak
    // is environmental; gc_ms rivaling wall time is an allocation
    // problem in the query itself.
    import java.lang.management.{ManagementFactory, MemoryType}
    import scala.jdk.CollectionConverters._
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum
    def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
    def peakMb(): Long =
      heapPools.map(_.getPeakUsage.getUsed).sum / (1024L * 1024L)

    final case class QTime(min: Double, median: Double, probe: Double,
      gcMs: Long, peakMb: Long)

    def timeGroup(names: Seq[String]): Seq[(String, QTime)] =
      names.map { name =>
        val fn = fns(name)
        try { fn(spark, sfDir).count() } catch { case _: Throwable => () } // warm
        val gc0 = gcMs(); resetPeaks()
        // three timed runs — min absorbs GC/compile jitter on a shared box,
        // median is the robust companion signal
        val times = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count() } catch {
            case e: Throwable => // a broken query must not read as a fast one
              if (!failed.contains(name)) failed ::= name
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          }
          (System.nanoTime() - t0) / 1e9
        }
        // probe right after each query: round 4's driver bench read as a
        // fake 3.2x regression purely from box load mid-run; a per-query
        // probe timestamps the contamination so the compare self-corrects
        name -> QTime(times.min, times.sorted.apply(times.size / 2),
          probe(), gcMs() - gc0, peakMb())
      }

    // CROSS-PASS minima (round-16): each group runs TWICE end-to-end,
    // with the storage/ANN groups between the passes as a time spacer.
    // Three consecutive rounds (p84 r13, q91 r14, p84/p86/p89 r15) a
    // driver-artifact reading was 3-14x its quiet value with FLAT
    // probes and flat gc — box load that spans one pass's three timed
    // runs and ends before the after-the-fact probe is invisible to
    // every per-pass signal. Two passes minutes apart make the
    // artifact self-adjudicating: a phantom is hot in one pass and
    // cold in the other (min stays at design level, pass_max carries
    // the evidence); a real regression is hot in BOTH.
    val legacyP1 = timeGroup(SparkEntry.benchQueries)
    val extP1 = timeGroup(SparkEntry.benchQueriesExtended)

    // Storage-layout group: the pruned READ is the signal that must
    // stay flat round-over-round (at 100 TB you write once and read
    // many); build_s is reported alongside (it includes the COW
    // merge/delete for q88/q89).
    // Round-17: the whole group runs as TWO PASSES with the ANN/e2e
    // groups and the legacy/extended second pass between them as a
    // multi-minute spacer — each pass builds every table ONCE (they
    // are idempotent: every builder deletes and recreates its /tmp
    // sink) and times the read min-of-3, then per table the winning
    // pass is reported with the losing pass's numbers as
    // build_max_s / read_pass_max_s. Same total build count as the
    // old in-window min-of-2, but minutes apart: r16's
    // storage_build_total read 20.91 s in the driver artifact while
    // quiet-box runs of the same code sat at 12.8-14.5 s — min-of-2
    // inside ONE loaded window is the r13-r15 read-side blind spot,
    // and the cross-pass split adjudicates it inside the artifact.
    final case class SPass(build: Double, buildProbe: Double,
      buildGcMs: Long, buildPeakMb: Long, min: Double, median: Double,
      probe: Double, gcMs: Long, peakMb: Long)
    def storagePass(): Seq[(String, SPass)] =
      graft.queries.StorageLayout.benchPairs.map { case (name, mk) =>
        try {
          val bgc0 = gcMs(); resetPeaks()
          val tb = System.nanoTime()
          val read = mk(spark, sfDir)
          val build = (System.nanoTime() - tb) / 1e9
          val (buildGc, buildPeak) = (gcMs() - bgc0, peakMb())
          val buildProbe = probe()
          read().count() // warm
          val gc0 = gcMs(); resetPeaks()
          val times = (1 to 3).map { _ =>
            val t0 = System.nanoTime()
            read().count()
            (System.nanoTime() - t0) / 1e9
          }
          name -> SPass(build, buildProbe, buildGc, buildPeak,
            times.min, times.sorted.apply(times.size / 2), probe(),
            gcMs() - gc0, peakMb())
        } catch { case e: Throwable =>
          if (!failed.contains(name)) failed ::= name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          name -> SPass(0.0, probe(), 0L, 0L, 0.0, 0.0, probe(), 0L, 0L)
        }
      }
    val storageP1 = storagePass()

    // ANN cost-recall group: p10/p13 have no SQL oracle (approximate by
    // design), so their accuracy lives in spec-only recall sweeps —
    // invisible round-over-round. This group makes the cost-recall
    // frontier a diffable bench artifact: each knob setting is timed AND
    // scored for recall@5 against the exact brute-force baseline (fixed
    // seeds, so recall is deterministic; a recall regression is a code
    // change, never noise). ~250 (qid, nid) pairs collect to the driver —
    // calibration-scale, same as the probe.
    val annJson = try {
      import org.apache.spark.sql.functions._
      import graft.operators.Similarity
      val uniform = graft.api.Tables.t(spark, sfDir, "embeddings")
      // second fixture: mixture of 16 Gaussians over the SAME ids/dims —
      // the uniform-random testdata is the adversarial floor for any
      // partition-based ANN (no cluster structure to exploit); real
      // embedding spaces are clustered, so the ladder is reported on both
      // geometries. Deterministic (murmur3-hash pseudo-noise keyed on
      // (cluster|id, dim) — identical across runs and boxes).
      val dims = uniform.select(size(col("embedding"))).first().getInt(0)
      def h01(cols: org.apache.spark.sql.Column*) =
        (pmod(hash(cols: _*), lit(20001)) - lit(10000)).cast("double") / 10000.0
      val clustered = uniform.select(col("vec_id"),
        transform(sequence(lit(0), lit(dims - 1)),
          d => (h01(col("vec_id") % 16, d) +
            h01(col("vec_id"), d, lit(7)) * lit(0.15)).cast("float"))
          .as("embedding"))
      def ladder(e: org.apache.spark.sql.DataFrame): String = {
        val q = e.filter(col("vec_id") % 50 === 0)
        def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
          df.select("qid", "nid").collect()
            .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
            .toSet
        val exact = pairs(Similarity.bruteForceTopK(q, e, 5))
        def setting(name: String, f: () => org.apache.spark.sql.DataFrame): String = {
          // exact can only be empty on a degenerate fixture (no embeddings
          // survive the query filter); recall 0.0 keeps the JSON parseable
          // instead of interpolating NaN into the artifact
          val recall = if (exact.isEmpty) 0.0
            else (pairs(f()).intersect(exact).size.toDouble /
              exact.size * 1e4).round / 1e4 // warm run doubles as recall probe
          val secs = (1 to 2).map { _ =>
            val t0 = System.nanoTime(); f().count(); (System.nanoTime() - t0) / 1e9
          }.min
          s""""$name":{"sec":$secs,"recall":$recall}"""
        }
        // persisted-index probes (p58): build once per fixture, then time
        // the stored-layout path at each nprobe — the round-over-round
        // ledger for the index family, beside the transient LSH/IVF paths
        val idxPath = java.nio.file.Files
          .createTempDirectory("graft_bench_annidx").toString
        val ip = graft.operators.AnnIndex.Params(nlist = 16, dims = dims)
        val tb0 = System.nanoTime()
        graft.operators.AnnIndex.buildIndex(e, "vec_id", "embedding", ip,
          idxPath)
        val buildSec = (System.nanoTime() - tb0) / 1e9
        def idxProbe(np: Int) = () => graft.operators.AnnIndex
          .topKAgainstIndex(spark, q, "vec_id", "embedding", 5, np, ip,
            idxPath)
        val settings = Seq(
          ("lsh_t2_p1", () => Similarity.lshTopK(q, e, 5, tables = 2, probeBits = 1)),
          ("lsh_t4_p2", () => Similarity.lshTopK(q, e, 5, tables = 4, probeBits = 2)),
          ("lsh_t6_p2", () => Similarity.lshTopK(q, e, 5)), // p10's defaults
          ("ivf_np1", () => Similarity.ivfTopK(q, e, 5, nprobe = 1)),
          ("ivf_np2", () => Similarity.ivfTopK(q, e, 5, nprobe = 2)),
          ("ivf_np4", () => Similarity.ivfTopK(q, e, 5)), // p13's defaults
          ("ivfidx_np1", idxProbe(1)),
          ("ivfidx_np2", idxProbe(2)),
          ("ivfidx_np4", idxProbe(4)))
          .map { case (n, f) => setting(n, f) }.mkString(",")
        s"""{$settings,"ivfidx_build_sec":$buildSec}"""
      }
      s"""{"uniform":${ladder(uniform)},"clustered":${ladder(clustered)}}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] ann group FAILED: ${e.getMessage}")
      "null"
    }
    // flagship composition: the end-to-end curation chain (p92) as its
    // own tracked metric — OUTSIDE the extended total so the legacy/
    // extended groups stay round-over-round comparable. Round-17: the
    // same cross-pass discipline as every other group (r16's artifact
    // read 8.19 min vs 16.53 max inside ONE window — the build group's
    // adjudicability gap): each pass is warm + min-of-2, pass 2 runs
    // after the legacy/extended/storage second passes, and the report
    // carries the cross-pass min with the losing pass's min as
    // pass_max. The chain is the sum of ~9 audited stages, so this one
    // number is the regression canary for their composition.
    def e2ePass(): Option[(Double, Double)] = try {
      val fn = fns("p92_pipeline_e2e")
      fn(spark, sfDir).count() // warm
      val secs = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      Some((secs.min, probe()))
    } catch { case e: Throwable =>
      if (!failed.contains("p92_pipeline_e2e"))
        failed ::= "p92_pipeline_e2e"
      System.err.println(s"[bench] p92_pipeline_e2e FAILED: ${e.getMessage}")
      None
    }
    val e2eP1 = e2ePass()
    // second pass of the legacy + extended groups (cross-pass minima)
    val legacyP2 = timeGroup(SparkEntry.benchQueries)
    val extP2 = timeGroup(SparkEntry.benchQueriesExtended)
    // second pass of the storage + e2e groups, minutes after their
    // first (the ANN group and the legacy/extended second passes are
    // the spacer)
    val storageP2 = storagePass()
    val e2eP2 = e2ePass()
    // Round-18: per-stage attribution INSIDE the artifact — the r17
    // e2e readings spread 6.8-10.7 across load windows while every
    // component the chain composes got faster; one cumulative-prefix
    // sweep (everything is warm after four full e2e runs) makes the
    // next drift argument self-carrying instead of needing a DbgP92
    // side run. Each prefix is min-of-2: stage SHARES are the
    // signal, the headline `sec` stays the cross-pass min above.
    val e2eStages =
      if (failed.contains("p92_pipeline_e2e")) "null"
      else try {
        graft.queries.PipelineE2e.stageThunks(spark, sfDir).map {
          case (label, f) =>
            // min-of-2: a single-timed prefix under a load spike reads
            // as a stage regression (r18's first two artifacts showed
            // non-monotone cumulative stages from exactly this)
            val secs = (1 to 2).map { _ =>
              val t0 = System.nanoTime(); f()
              (System.nanoTime() - t0) / 1e9
            }.min
            s""""$label":$secs"""
        }.mkString("{", ",", "}")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] e2e stage sweep FAILED: ${e.getMessage}")
        "null"
      }
    // same discipline as every other group: a query that failed in
    // EITHER pass reports null (it is already in failed[]) — a
    // single-pass reading must not fabricate the pass_max==sec
    // "two passes agreed" signal the field exists to carry
    val e2eBest: Option[(Double, Double, Double)] = (e2eP1, e2eP2) match {
      case (Some((a, pa)), Some((b, pb)))
          if !failed.contains("p92_pipeline_e2e") =>
        Some(if (b < a) (b, a, pb) else (a, b, pa))
      case _ => None
    }
    val e2e = e2eBest.map { case (min, mx, pr) =>
      s"""{"sec":$min,"pass_max":$mx,"probe":$pr,"stages":$e2eStages}"""
    }.getOrElse("null")
    // q87's read decomposed in-artifact (round-17 verdict #6): the DPP
    // read's cost splits into the DIM leg (orders scan + month filter +
    // distinct — irreducible per read, DPP recomputes it to know the
    // partitions) and the FACT floor (pruned partitions aggregated with
    // static literals — what a clairvoyant reader would pay); full read
    // minus the two legs is the DPP subquery/broadcast machinery.
    val q87Legs = try {
      val dim = () => graft.queries.StorageLayout.q87Dim(spark, sfDir)
      val months = dim().collect().map(_.getString(0)).toSeq.sorted
      def t3(f: () => Long): Double = { f(); (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
      }.min }
      val dimS = t3(() => dim().count())
      val factS = t3(() =>
        graft.queries.StorageLayout.q87FactStatic(spark, sfDir, months)
          .count())
      s"""{"dim_s":$dimS,"fact_static_s":$factS}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] q87 leg sweep FAILED: ${e.getMessage}")
      "null"
    }
    // per query: the WINNING pass's full telemetry (its min, median,
    // probe, gc, peak) plus the max of the two pass-minima — the
    // cross-pass split the adjudication rides on
    def crossPass(p1: Seq[(String, QTime)], p2: Seq[(String, QTime)])
        : Seq[(String, (QTime, Double))] =
      p1.zip(p2).map { case ((k, t1), (k2, t2)) =>
        require(k == k2, s"pass order diverged: $k vs $k2")
        k -> (if (t2.min < t1.min) (t2, t1.min) else (t1, t2.min))
      }
    val crossLegacy = crossPass(legacyP1, legacyP2)
    val crossExt = crossPass(extP1, extP2)
    val results = crossLegacy.map { case (k, (t, _)) => (k, t) }
    val extResults = crossExt.map { case (k, (t, _)) => (k, t) }
    def passMaxJson(rs: Seq[(String, (QTime, Double))]) =
      rs.map { case (k, (_, mx)) =>
        "\"" + k + "\":" + (if (failed.contains(k)) "null" else mx.toString)
      }.mkString("{", ",", "}")
    // SCALING SLOPES (round-17 — the measured 100x evidence): the
    // legacy 12 + p92 + the 5 most expensive extended queries re-timed
    // at the sibling sf0.01 in the SAME session; slope =
    // t(sf0.1)/t(sf0.01) against the 10x data ratio. Near-linear
    // (slope <= ~13, i.e. 1.3x the data growth) is the pass bar; a
    // superlinear slope names a query whose cost grows faster than its
    // input — the check that caught p84's re-keying in round 12, now a
    // per-round artifact instead of an ad-hoc run. Fixed overheads
    // (job launch, planning) deflate small-sf times, so slopes well
    // BELOW 10 are expected and fine.
    // Round-18 stabilization (r17 verdict #7: q26's slope read 2.9 vs
    // 3.57, wc 1.29 vs 3.09 across artifacts — the sf0.01 denominator
    // is overhead-dominated and load-sensitive): the small side is now
    // MIN-of-5 (load and GC only ever ADD time to a 30-150 ms reading,
    // so the min is the stable estimator — median-of-3 still moved
    // slopes 0.5-1.5 across load windows) and `slope_norm`
    // probe-normalizes BOTH sides (each reading scaled by its nearest
    // CPU probe, the small/big probe ratio clamped to [0.5, 2] so a
    // query-aftermath probe can't overcorrect). slope stays the raw
    // round-over-round comparable; slope_norm is the superlinearity
    // arbiter.
    val scalingJson = {
      val smallDir = new java.io.File(sfDir).getParent + "/sf0.01"
      if (!sfDir.endsWith("sf0.1") ||
          !new java.io.File(smallDir).isDirectory) "null"
      else {
        val e2eMin = Seq(e2eP1, e2eP2).flatten.map(_._1)
          .minOption.filterNot(_ => failed.contains("p92_pipeline_e2e"))
        val bigMins = (crossLegacy ++ crossExt)
          .map { case (k, (t, _)) => k -> t.min }.toMap ++
          e2eMin.map("p92_pipeline_e2e" -> _).toMap
        val bigProbes = (crossLegacy ++ crossExt)
          .map { case (k, (t, _)) => k -> t.probe }.toMap ++
          e2eBest.map { case (_, _, pr) => "p92_pipeline_e2e" -> pr }.toMap
        val top5Ext = crossExt
          .filterNot { case (k, _) => failed.contains(k) }
          .sortBy { case (_, (t, _)) => -t.min }.take(5).map(_._1)
        val names = SparkEntry.benchQueries ++ top5Ext ++
          e2eMin.map(_ => "p92_pipeline_e2e").toSeq
        val rows = names.filterNot(failed.contains).flatMap { name =>
          try {
            val fn = fns(name)
            fn(spark, smallDir).count() // warm
            val runs = (1 to 5).map { _ =>
              val t0 = System.nanoTime(); fn(spark, smallDir).count()
              (System.nanoTime() - t0) / 1e9
            }.sorted
            // MIN-of-5: load only ever ADDS time, so the min is the
            // stable estimator of the 30-150 ms small-sf readings —
            // the r18 median-of-3 still moved slopes 0.5-1.5 across
            // load windows; the big side is already a cross-pass min
            val small = runs.head
            val smallProbe = probe()
            bigMins.get(name).map { big =>
              def r2(x: Double) = (x * 100).round / 100.0
              val slope = if (small > 0) r2(big / small) else -1.0
              val pRatio = math.max(0.5, math.min(2.0,
                smallProbe / bigProbes.getOrElse(name, smallProbe)))
              val slopeNorm =
                if (small > 0) r2(big / small * pRatio) else -1.0
              s""""$name":{"small_s":$small,"small_probe":$smallProbe,""" +
                s""""big_s":$big,"slope":$slope,"slope_norm":$slopeNorm}"""
            }
          } catch { case e: Throwable =>
            System.err.println(
              s"[bench] scaling $name FAILED: ${e.getMessage}")
            None
          }
        }
        s"""{"small_sf":"$smallDir","data_ratio":10,""" +
          s""""queries":${rows.mkString("{", ",", "}")},"probe":${probe()}}"""
      }
    }
    val probeEnd = probe()
    // a failed query reports null and is excluded from the total, so
    // totals stay comparable across rounds (a broken query must neither
    // read as fast nor distort the sum with exception-path timings)
    def qJson(rs: Seq[(String, QTime)])(
        pick: QTime => Double) = rs.map { case (k, v) =>
      "\"" + k + "\":" + (if (failed.contains(k)) "null" else pick(v).toString)
    }.mkString("{", ",", "}")
    def qJsonL(rs: Seq[(String, QTime)])(
        pick: QTime => Long) = rs.map { case (k, v) =>
      "\"" + k + "\":" + (if (failed.contains(k)) "null" else pick(v).toString)
    }.mkString("{", ",", "}")
    def rawTotal(rs: Seq[(String, QTime)]) =
      rs.collect { case (k, t) if !failed.contains(k) => t.min }.sum
    val total = rawTotal(results)
    val extTotal = rawTotal(extResults)
    // merge the two storage passes: per table the cross-pass build min
    // with the losing pass's build as build_max_s (one build per pass,
    // so the pass's build IS its minimum), the cross-pass read min with
    // the losing pass's min-of-3 as read_pass_max_s, and the winning
    // pass's telemetry alongside
    final case class STime(build: Double, buildMax: Double,
      buildProbe: Double, buildGcMs: Long, buildPeakMb: Long,
      min: Double, readPassMax: Double, median: Double,
      probe: Double, gcMs: Long, peakMb: Long)
    val storageResults: Seq[(String, STime)] =
      storageP1.zip(storageP2).map { case ((k, a), (k2, b)) =>
        require(k == k2, s"storage pass order diverged: $k vs $k2")
        val bw = if (b.build < a.build) b else a // build winner
        val rw = if (b.min < a.min) b else a // read winner
        k -> STime(math.min(a.build, b.build), math.max(a.build, b.build),
          bw.buildProbe, bw.buildGcMs, bw.buildPeakMb,
          math.min(a.min, b.min), math.max(a.min, b.min),
          rw.median, rw.probe, rw.gcMs, rw.peakMb)
      }
    val storageJson = storageResults.map { case (k, t) =>
      "\"" + k + "\":" + (if (failed.contains(k)) "null"
        else s"""{"build_s":${t.build},"build_max_s":${t.buildMax},""" +
          s""""build_probe":${t.buildProbe},""" +
          s""""build_gc_ms":${t.buildGcMs},""" +
          s""""build_peak_mb":${t.buildPeakMb},"read_s":${t.min},""" +
          s""""read_pass_max_s":${t.readPassMax},""" +
          s""""read_median_s":${t.median},"probe":${t.probe},""" +
          s""""gc_ms":${t.gcMs},"peak_mb":${t.peakMb}}""")
    }.mkString("{", ",", "}")
    val storageBuildTotal = storageResults
      .collect { case (k, t) if !failed.contains(k) => t.build }.sum
    // the losing passes' sums, so the artifact itself shows the split a
    // box-load phantom produces (hot one pass, cold the other)
    val storageBuildPassMax = storageResults
      .collect { case (k, t) if !failed.contains(k) => t.buildMax }.sum
    val storageReadTotal = storageResults
      .collect { case (k, t) if !failed.contains(k) => t.min }.sum
    val storageReadPassMax = storageResults
      .collect { case (k, t) if !failed.contains(k) => t.readPassMax }.sum
    // normalized_total: each query's min scaled by (cleanest probe this
    // run / its nearest probe) — a query timed while the box was loaded
    // is deflated by the probe's own slowdown, so a loaded run no longer
    // reads as a code regression. On a quiet box all ratios are ~1 and
    // normalized_total ≈ total. The ratio is CLAMPED to [0.5, 1.0]:
    // a probe can also be inflated by the query's own aftermath (GC
    // pressure, page-cache eviction), and an unclamped ratio would let a
    // self-inflicted regression masquerade as box noise — at most 2x of
    // a query's time can be attributed to the environment. Raw total
    // stays the primary signal.
    // the r16/r17 basis, UNCHANGED: legacy/extended normalized totals
    // must stay round-over-round comparable, so their reference probe
    // draws from the same pool those rounds used (widening it to the
    // storage probes would redefine the existing totals — a quieter
    // storage instant would deflate every legacy ratio)
    val probeMin = (probeStart +: probeEnd +:
      (legacyP1 ++ legacyP2 ++ extP1 ++ extP2).map(_._2.probe)).min
    // the storage group's own reference additionally sees its per-build/
    // per-read probes (new in r18 with the group's normalized totals)
    val probeMinStorage = math.min(probeMin,
      (storageP1 ++ storageP2).flatMap(p =>
        Seq(p._2.buildProbe, p._2.probe)).min)
    def normTotal(rs: Seq[(String, QTime)]) = rs.collect {
      case (k, t) if !failed.contains(k) =>
        t.min * math.max(0.5, math.min(1.0, probeMin / t.probe))
    }.sum
    val normalizedTotal = normTotal(results)
    val extNormalizedTotal = normTotal(extResults)
    // the storage group gets the same treatment (round-17 verdict #4:
    // three r17 readings of identical code spanned 13.3-23.3 s on
    // builds — cross-pass minima bound the damage inside one artifact
    // but can't cancel a loaded EPOCH across artifacts; the per-build
    // probes can): each build/read scaled by its own probe's clamped
    // ratio to the run's cleanest probe
    def normRatio(p: Double) =
      math.max(0.5, math.min(1.0, probeMinStorage / p))
    val storageBuildNormTotal = storageResults.collect {
      case (k, t) if !failed.contains(k) => t.build * normRatio(t.buildProbe)
    }.sum
    val storageReadNormTotal = storageResults.collect {
      case (k, t) if !failed.contains(k) => t.min * normRatio(t.probe)
    }.sum
    val failedJson = failed.reverse.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":${qJson(results)(_.min)},"medians":${qJson(results)(_.median)},"probes":${qJson(results)(_.probe)},"gc_ms":${qJsonL(results)(_.gcMs)},"peak_mb":${qJsonL(results)(_.peakMb)},"legacy_total":$total,"normalized_total":$normalizedTotal,"pass_max":${passMaxJson(crossLegacy)},"extended":${qJson(extResults)(_.min)},"extended_pass_max":${passMaxJson(crossExt)},"extended_probes":${qJson(extResults)(_.probe)},"extended_gc_ms":${qJsonL(extResults)(_.gcMs)},"extended_peak_mb":${qJsonL(extResults)(_.peakMb)},"extended_total":$extTotal,"extended_normalized_total":$extNormalizedTotal,"storage":$storageJson,"storage_build_total":$storageBuildTotal,"storage_build_pass_max":$storageBuildPassMax,"storage_build_normalized_total":$storageBuildNormTotal,"storage_read_total":$storageReadTotal,"storage_read_pass_max":$storageReadPassMax,"storage_read_normalized_total":$storageReadNormTotal,"q87_legs":$q87Legs,"ann":$annJson,"e2e_pipeline":$e2e,"scaling":$scalingJson,"noise_floor":{"probe_start":$probeStart,"probe_end":$probeEnd},"failed":$failedJson,"sf":"$sfDir"}"""
    println(json)
    // belt-and-braces for the driver: also drop the line in a file, immune
    // to any log-prefixing of stdout. Stdout stays the primary channel —
    // an unwritable path must not turn a successful bench into a nonzero
    // exit after the line was already printed.
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
}
