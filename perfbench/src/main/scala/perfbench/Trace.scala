package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for spans and listener events: epoch milliseconds with
  * nanosecond resolution, so span bounds line up with the listener's
  * `System.currentTimeMillis` stamps. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Double, end: Double) {
  def layer: String = name.takeWhile(_ != '.')
  def dur: Double = end - start
}

private final case class JobRec(id: Int, start: Long, stages: Seq[Int],
    var end: Long = -1L)
private final case class StageRec(id: Int, submit: Long, complete: Long)
private final case class TaskRec(stage: Int, launch: Long, finish: Long,
    cpuNs: Long, gcMs: Long, inBytes: Long, inRows: Long, shWBytes: Long,
    shWRows: Long, shRBytes: Long, spill: Long)
private final case class PlanRec(phase: String, start: Long, end: Long)

/** Listener counts for one operation, plus the self time of every layer
  * along its span tree (a span's duration minus the part of it its child
  * spans cover). */
final case class OpStats(op: Int, label: String, wallMs: Double,
    jobs: Int, stages: Int, tasks: Int, taskMs: Double, cpuMs: Double,
    gcMs: Double, idleMs: Double, skew: Double, shuffleWriteBytes: Double,
    shuffleReadBytes: Double, shuffleRecords: Double, spillBytes: Double,
    scanBytes: Double, scanRows: Double, planMs: Double,
    lastJobEndMs: Double, endMs: Double, self: Map[String, Double]) {
  def parallelism: Double = if (wallMs > 0) taskMs / wallMs else 0.0
}

/** Records spans around the benchmark's calls into each layer of the
  * engine and the scheduler/executor/planner events of a registered
  * `SparkListener` + `QueryExecutionListener`. Everything stays in
  * memory until [[write]]. Listeners are attached only while a traced
  * round runs, so untraced rounds pay nothing. */
final class Tracer(spark: SparkSession) {
  private val jobs = ArrayBuffer[JobRec]()
  private val stages = ArrayBuffer[StageRec]()
  private val tasks = ArrayBuffer[TaskRec]()
  private val plans = ArrayBuffer[PlanRec]()
  private val lock = new Object

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobs += JobRec(e.jobId, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.findLast(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      lock.synchronized {
        stages += StageRec(i.stageId, i.submissionTime.getOrElse(0L),
          i.completionTime.getOrElse(0L))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val ti = e.taskInfo
      val rec = if (m == null) TaskRec(e.stageId, ti.launchTime,
          ti.finishTime, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
        else TaskRec(e.stageId, ti.launchTime, ti.finishTime,
          m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleWriteMetrics.recordsWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      lock.synchronized { tasks += rec }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases.toSeq.map { case (p, s) =>
        PlanRec(p, s.startTimeMs, s.endTimeMs) }
      lock.synchronized { plans ++= ps }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
  }

  val spans = ArrayBuffer[Span]()
  val ops = ArrayBuffer[OpStats]()
  private var open: List[(Int, String, Double)] = Nil
  private var nextId = 0
  private var opId = -1

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  private def drain(): Unit =
    org.apache.spark.sql.graftshim.Bridge.waitForListeners(spark)

  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name, Clock.nowMs) :: open
    try f
    finally {
      val (_, _, start) = open.head
      open = open.tail
      spans += Span(id, parent, opId, name, start, Clock.nowMs)
    }
  }

  /** Runs one operation as the root span `op.<label>`, then attributes
    * the listener events that fell inside it. */
  def op[T](label: String)(f: => T): T = {
    opId += 1
    val id = opId
    try span("op." + label)(f)
    finally analyze(id, label)
  }

  private def analyze(id: Int, label: String): Unit = {
    drain()
    val (js, ss, ts, ps) = lock.synchronized {
      val r = (jobs.toSeq, stages.toSeq, tasks.toSeq, plans.toSeq)
      jobs.clear(); stages.clear(); tasks.clear(); plans.clear()
      r
    }
    val mine = spans.filter(_.op == id)
    val root = mine.find(_.parent == -1).get
    // derived spans: each listener job and planner phase becomes a child
    // of the innermost benchmark span that was open when it started
    def parentAt(t: Double): Int = mine
      .filter(s => s.start <= t && t <= s.end)
      .maxByOption(_.start).getOrElse(root).id
    val derived = js.map { j =>
      val end = if (j.end < 0) root.end else j.end.toDouble
      Span(-1, parentAt(j.start), id, s"scheduler.job${j.id}", j.start, end)
    } ++ ps.map(p => Span(-1, parentAt(p.start), id, s"driver.${p.phase}",
      p.start, p.end))
    val numbered = derived.map { s => nextId += 1; s.copy(id = nextId - 1) }
    spans ++= numbered
    val all = mine ++ numbered
    val children = all.groupBy(_.parent)
    val taskIv = ts.map(t => (t.launch.toDouble, t.finish.toDouble))
    val self = mutable.Map[String, Double]().withDefaultValue(0.0)
    all.foreach { s =>
      val covered =
        if (s.layer == "scheduler") taskIv
        else children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq
      val busy = Tracer.unionWithin(covered, s.start, s.end)
      val layer = if (s.parent == -1) "bench" else s.layer
      self(layer) += s.dur - busy
      if (s.layer == "scheduler") self("executor") += busy
    }
    val wall = root.dur
    val taskDur = ts.map(t => (t.finish - t.launch).toDouble)
    // the op's longest stage: max / median task time inside it
    val skew = ss.maxByOption(s => s.complete - s.submit).map { st =>
      val d = ts.filter(_.stage == st.id).map(t => (t.finish - t.launch)
        .toDouble).sorted
      if (d.isEmpty) 1.0 else d.last / math.max(1.0, Stats.median(d))
    }.getOrElse(1.0)
    ops += OpStats(id, label, wall, js.size, ss.size, ts.size, taskDur.sum,
      ts.map(_.cpuNs).sum / 1e6, ts.map(_.gcMs).sum.toDouble,
      wall - Tracer.unionWithin(taskIv, root.start, root.end), skew,
      ts.map(_.shWBytes).sum.toDouble, ts.map(_.shRBytes).sum.toDouble,
      ts.map(_.shWRows).sum.toDouble, ts.map(_.spill).sum.toDouble,
      ts.map(_.inBytes).sum.toDouble, ts.map(_.inRows).sum.toDouble,
      ps.map(p => (p.end - p.start).toDouble).sum,
      js.map(_.end).filter(_ > 0).maxOption.map(_.toDouble)
        .getOrElse(root.start), root.end, self.toMap)
  }

  /** Spans, one JSON object a line, then one line of counts per op. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(s => (s.op, s.start)).map(s => Json(Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ms" -> s.start, "end_ms" -> s.end))) ++ ops.map(o => Json(Map(
      "op" -> o.op, "label" -> o.label, "wall_ms" -> o.wallMs,
      "jobs" -> o.jobs, "stages" -> o.stages, "tasks" -> o.tasks,
      "task_ms" -> o.taskMs, "idle_ms" -> o.idleMs, "plan_ms" -> o.planMs,
      "self_ms" -> o.self)))
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionWithin(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  @volatile private var active: Option[Tracer] = None
  def on(t: Option[Tracer]): Unit = active = t
  def tracing: Boolean = active.isDefined

  /** A span around a call into one of the engine's layers; free when no
    * traced round is running. */
  def span[T](name: String)(f: => T): T = active match {
    case Some(t) => t.span(name)(f)
    case None => f
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of an unsorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
