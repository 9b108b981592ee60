package graft.tools

import org.apache.spark.scheduler.{SparkListener,
  SparkListenerStageCompleted}
import org.apache.spark.sql.graftshim.Bridge
import graft.Session

/** Dev tool: per-stage empirical profile of a registered query under
  * the Bench session shape — runs the query warm, then once timed with
  * a stage listener, and prints each stage's wall time, task count,
  * task-time sum, shuffle read/write bytes and records, sorted by
  * task-time (`runMain graft.tools.DbgStages <name> [sfDir]`), on
  * SPARK_GRAFT_CPUS cores (default 4). The empirical loop (UI → slowest
  * stage) without the UI.
  */
object DbgStages {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: DbgStages <queryName> [sfDir]")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val s = Session.builder(Session.envCpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val q = graft.api.Registry.byName(args(0))
    q.run(s, dir).count() // warm
    q.run(s, dir).count() // warm 2
    final case class Row(id: Int, name: String, wallMs: Long, tasks: Int,
      taskMs: Long, sRead: Long, sReadRec: Long, sWrite: Long,
      sWriteRec: Long, input: Long)
    val rows = new java.util.concurrent.CopyOnWriteArrayList[Row]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        rows.add(Row(si.stageId, si.name.takeWhile(_ != '\n'),
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          si.numTasks, m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleWriteMetrics.recordsWritten,
          m.inputMetrics.bytesRead))
      }
    }
    s.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    q.run(s, dir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    Bridge.waitForListeners(s)
    s.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val all = rows.asScala.toSeq.sortBy(-_.wallMs)
    println(f"TOTAL wall ${wall}%.3f s, ${all.size} stages, " +
      s"${all.map(_.tasks).sum} tasks, " +
      f"taskTime ${all.map(_.taskMs).sum / 1000.0}%.2f s, " +
      f"wallSum ${all.map(_.wallMs).sum / 1000.0}%.2f s")
    all.take(25).foreach { r =>
      println(f"  stage ${r.id}%4d wall=${r.wallMs}%5d ms tasks=${r.tasks}%3d " +
        f"taskMs=${r.taskMs}%6d sr=${r.sRead / 1024}%6d KB/${r.sReadRec}%7d " +
        f"sw=${r.sWrite / 1024}%6d KB/${r.sWriteRec}%7d in=${r.input / 1024}%8d KB " +
        s"${r.name.take(60)}")
    }
    s.stop()
  }
}
