package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One closed-loop operation. `run` is the timed part; the check it
  * returns runs untimed and yields None when the result is correct (or
  * is left to run.py), Some(reason) when not. */
final case class Op(label: String, run: () => (() => Option[String]))

/** `seconds` is the operation's wall time less the share the hypervisor
  * stole from this machine's processors meanwhile (see `Steal`). */
final case class OpRec(label: String, seconds: Double, ok: Boolean,
    traced: Boolean, wall: Double, stolen: Double)

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, data: Path, work: Path, out: Path, threads: Int,
    train: Boolean)

/** A workload: inputs built in `setup`, then rounds of operations run by
  * one client thread until the time is up. */
trait Workload {
  /** Builds the workload's inputs in the engine; timed, run `setupReps`
    * times (the last build is the one the rounds use). */
  def setup(rep: Int): Unit
  /** Untimed operations that warm the JIT, codegen caches and the OS. */
  def warmup: Seq[Op]
  /** The r-th measured round; empty when the workload has no more. */
  def round(r: Int): Seq[Op]
  /** Nominal duration of one round on the reference machine (4 cores):
    * a run measures round(seconds / roundSeconds) rounds, at least one,
    * so every run of a workload measures the same operation mix. */
  def roundSeconds: Double
  /** Rounds a run measures however short `seconds` is. */
  def minRounds: Int = 1
  /** Measured operations run once after the last round. */
  def tail: Seq[Op] = Nil
  /** Whether traced runs trace the tail operations. */
  def traceTail: Boolean = true
  /** Workload-specific per-layer metrics. `traced` holds the listener
    * counts of the traced operations. */
  def layer(ops: Seq[OpRec], traced: Seq[OpStats]): Map[String, Double] =
    Map.empty
  /** Figures printed beside the result for context, not gated on. */
  def context: Map[String, Double] = Map.empty
  /** Results that run.py checks after the JVM exits. */
  def deferred: Seq[Map[String, Any]] = Nil
}

object Main {
  val SetupReps = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val nproc = Runtime.getRuntime.availableProcessors
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", Paths.get(get("--data")),
      Paths.get(get("--work")), Paths.get(get("--out")),
      m.get("--threads").map(_.toInt).getOrElse(nproc),
      m.get("--train").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val nproc = Runtime.getRuntime.availableProcessors
    if (a.threads < 1 || a.threads > nproc) {
      System.err.println(s"refusing local[${a.threads}]: this machine has " +
        s"$nproc processors; more scheduler threads than processors " +
        "measures contention, not the engine")
      sys.exit(3)
    }
    val local = a.work.resolve("spark-local")
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(s"local[${a.threads}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.threads)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      if (a.train) train(spark, a)
      else Files.write(a.out, Json(run(spark, a)).getBytes("UTF-8"))
    } finally spark.stop()
  }

  /** Runs the set-up and one round of every workload once, so a
    * class-data archive dumped at exit covers the classes all of them
    * load. */
  def train(spark: SparkSession, a: Args): Unit =
    Seq("jobs", "curation", "table").foreach { w =>
      val b = a.copy(workload = w, data = a.data.resolve(w),
        work = a.work.resolve(w))
      try {
        val wl = workload(spark, b)
        wl.setup(0)
        wl.round(0).foreach(op => op.run()())
      } catch { case e: Exception => System.err.println(s"train $w: $e") }
      phase(s"trained $w")
    }

  def workload(spark: SparkSession, a: Args): Workload = a.workload match {
    case "wordcount" => new WordCount(spark, a)
    case "curation" => new Curation(spark, a)
    case "relational" => new Relational(spark, a)
    case "table" => new Table(spark, a)
    case "jobs" => new Jobs(spark, a)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  private val t0 = System.nanoTime()
  def phase(what: String): Unit =
    System.err.println(f"perfbench: $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")

  def run(spark: SparkSession, a: Args): Map[String, Any] = {
    phase("session up")
    val wl = workload(spark, a)
    phase("inputs ready")
    val setup = (0 until SetupReps).map { rep =>
      val h0 = Steal.read()
      val t0 = System.nanoTime()
      wl.setup(rep)
      (System.nanoTime() - t0) / 1e9 * (1 - Steal.share(h0, Steal.read()))
    }
    val errors = ArrayBuffer[String]()
    var attempted = 0
    var failed = 0
    val tracer = if (a.trace) Some(new Tracer(spark)) else None

    def exec(op: Op, traced: Boolean): OpRec = {
      attempted += 1
      val h0 = Steal.read()
      val t0 = System.nanoTime()
      var s = 0.0
      val verdict =
        try {
          val check = tracer.filter(_ => traced)
            .fold(op.run())(_.op(op.label)(op.run()))
          s = (System.nanoTime() - t0) / 1e9
          check()
        } catch { case e: Exception =>
          s = (System.nanoTime() - t0) / 1e9
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      verdict.foreach { v => failed += 1; errors += s"${op.label}: $v" }
      val stolen = Steal.share(h0, Steal.read())
      OpRec(op.label, s * (1 - stolen), verdict.isEmpty, traced, s, stolen)
    }

    def inRound(traced: Boolean)(body: => Unit): Unit = {
      if (traced) tracer.foreach { t => t.attach(); Tracer.on(Some(t)) }
      try body
      finally if (traced) tracer.foreach { t => Tracer.on(None); t.detach() }
    }

    phase("setup done")
    wl.warmup.foreach(exec(_, traced = false))
    phase("warm-up done")
    val heap = new HeapSampler
    val recs = ArrayBuffer[OpRec]()
    // a traced run needs a traced and an untraced round to compare
    val rounds = Seq(if (a.trace) 2 else 1, wl.minRounds,
      math.round(a.seconds / wl.roundSeconds).toInt).max
    var r = 0
    var more = true
    while (more && r < rounds) {
      val ops = wl.round(r)
      more = ops.nonEmpty
      // traced runs interleave traced and untraced rounds, so the
      // tracing overhead is measured against the same code path
      val traced = a.trace && r % 2 == 0
      inRound(traced) { ops.foreach(op => recs += exec(op, traced)) }
      r += 1
    }
    val traceTail = a.trace && wl.traceTail
    inRound(traceTail) { wl.tail.foreach(op => recs += exec(op, traceTail)) }
    val heapPeakMb = heap.stop()
    phase("measured")

    val lat = recs.map(_.seconds).toSeq
    val e2e = Map(
      "setup_s" -> Stats.median(setup),
      "latency_p50_s" -> Stats.quantile(lat, 0.5),
      "latency_p90_s" -> Stats.quantile(lat, 0.9),
      "throughput_ops_s" -> recs.size / lat.sum)
    val layer = tracer.map { t =>
      t.write(a.work.resolve(s"trace-${a.workload}-${a.seed}.jsonl"))
      Layers.specific.map(_ -> 0.0).toMap ++ Layers.generic(t.ops.toSeq,
        recs.toSeq) ++ wl.layer(recs.toSeq, t.ops.toSeq) ++
        Map("heap_peak_mb" -> heapPeakMb)
    }.getOrElse(Map.empty)
    Map(
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "master" -> spark.sparkContext.master,
        "driver_memory_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark_version" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "seed" -> a.seed, "workload" -> a.workload,
        "seconds" -> a.seconds, "trace" -> a.trace,
        "shuffle_partitions" ->
          spark.conf.get("spark.sql.shuffle.partitions")),
      "setup_runs_s" -> setup,
      "rounds" -> r,
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "ops" -> recs.map(o => Map("label" -> o.label, "s" -> o.seconds,
        "traced" -> o.traced, "wall_s" -> o.wall, "stolen" -> o.stolen)).toSeq,
      "e2e" -> e2e, "layer" -> layer, "context" -> wl.context,
      "deferred" -> wl.deferred)
  }
}

/** Peak heap in use right after a garbage collection — the live set —
  * over the measured rounds, from the collectors' notifications. (The
  * peak of heap in use at any instant only shows how far the collector
  * lets the young generation grow.) */
final class HeapSampler {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
  private val listener: javax.management.NotificationListener = (n, _) =>
    if (n.getType ==
        GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(live, (a, b) => math.max(a, b))
    }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: javax.management.NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def stop(): Double = {
    emitters.foreach(_.removeNotificationListener(listener))
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (if (peak.get > 0) peak.get else used) / 1048576.0
  }
}

/** Per-layer metrics every workload reports: per-operation means of the
  * listener counts and of each layer's self time. */
object Layers {
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Metrics of one workload's own layer: 0 on the other workloads, whose
    * operations do not reach that layer. */
  val specific: Seq[String] = Seq("core.word_count_s", "core.map_reduce_s",
    "core.map_reduce_rdd_s", "core.inverted_index_s", "core.combine_ratio",
    "core.sequential_s", "throughput_mb_s") ++
    Seq("bloom_anti_keep", "exact_groups", "minhash_pairs", "cc_groups",
      "decontaminate", "quality_gate", "mixture_ids")
      .map(s => s"operators.${s}_s") ++
    Seq("operators.cc_jobs", "operators.minhash_pairs_out") ++
    Relational.Queries.map(q => s"queries.${q}_s") ++
    Seq("append_s", "commit_ms", "merge_s", "delete_s", "compact_s",
      "files_rewritten", "point_read_s", "range_read_s", "read_bytes_frac",
      "live_files", "manifest_bytes").map("sources." + _) ++
    Seq("write_rows_s", "read_latency_p50_s", "read_latency_p90_s",
      "storage_bytes_per_row")

  def generic(t: Seq[OpStats], recs: Seq[OpRec]): Map[String, Double] = {
    def m(f: OpStats => Double) = mean(t.map(f))
    val byLabel = recs.groupBy(_.label)
    // tracing overhead: per label, traced median over untraced median
    val ratios = byLabel.values.flatMap { rs =>
      val (tr, un) = rs.partition(_.traced)
      if (tr.isEmpty || un.isEmpty) None
      else Some(Stats.median(tr.map(_.seconds)) /
        Stats.median(un.map(_.seconds)))
    }.toSeq
    Map(
      "driver.plan_ms" -> m(_.planMs),
      "scheduler.jobs" -> m(_.jobs.toDouble),
      "scheduler.stages" -> m(_.stages.toDouble),
      "scheduler.tasks" -> m(_.tasks.toDouble),
      "scheduler.idle_ms" -> m(_.idleMs),
      "executor.task_ms" -> m(_.taskMs),
      "executor.cpu_ms" -> m(_.cpuMs),
      "executor.gc_ms" -> m(_.gcMs),
      "executor.parallelism" -> m(_.parallelism),
      "executor.skew" -> m(_.skew),
      "executor.spill_bytes" -> m(_.spillBytes),
      "shuffle.write_bytes" -> m(_.shuffleWriteBytes),
      "shuffle.read_bytes" -> m(_.shuffleReadBytes),
      "shuffle.records" -> m(_.shuffleRecords),
      "scan.bytes_read" -> m(_.scanBytes),
      "scan.rows_read" -> m(_.scanRows),
      "host.steal_share" -> recs.map(r => r.wall * r.stolen).sum /
        math.max(1e-9, recs.map(_.wall).sum),
      "trace.overhead_pct" ->
        (if (ratios.isEmpty) 0.0 else (Stats.median(ratios) - 1.0) * 100.0)
    ) ++ Seq("bench", "core", "operators", "queries", "sources", "driver",
      "scheduler", "executor").map(l => s"self.${l}_ms" ->
        m(_.self.getOrElse(l, 0.0)))
  }
}

/** Processor time the hypervisor gave to other guests while this
  * machine's processors had work to run ("steal" in /proc/stat). On a
  * shared host it comes in stretches of minutes that make every operation
  * up to 40 % slower. An operation's wall time times (1 - stolen share)
  * is the time it takes on processors of its own, which is what the
  * benchmark reports; on an idle host the two are equal. */
object Steal {
  private val stat = Paths.get("/proc/stat")

  /** (busy, stolen) ticks of all processors: user, nice, system, irq,
    * softirq; steal. (0, 0) where /proc/stat is missing. */
  def read(): (Long, Long) =
    if (!Files.isReadable(stat)) (0L, 0L)
    else {
      val v = Files.readAllLines(stat).get(0).trim.split("\\s+").slice(1, 9)
        .map(_.toLong)
      (v(0) + v(1) + v(2) + v(5) + v(6), v(7))
    }

  /** Stolen share of the processor time wanted between two reads. */
  def share(a: (Long, Long), b: (Long, Long)): Double = {
    val busy = b._1 - a._1
    val stolen = b._2 - a._2
    if (busy + stolen <= 0) 0.0 else stolen.toDouble / (busy + stolen)
  }
}
