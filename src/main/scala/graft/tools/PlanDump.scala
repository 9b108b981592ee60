package graft.tools

import org.apache.spark.sql.execution.FormattedMode
import graft.Session

/** Plan-audit utility: runs each named registry query on the data dir
  * and prints its `explain("formatted")` and then its post-AQE executed
  * plan, under the Bench session shape on SPARK_GRAFT_CPUS cores
  * (default 4). Redirect stdout to keep a plan file.
  * Usage: runMain graft.tools.PlanDump <sfDir> <query name>...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <query name>...")
    val dir = args(0)
    val spark = Session.builder(Session.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- args.drop(1)) {
      val df = graft.api.Registry.byName(name).run(spark, dir)
      // run this frame's own plan (df.count() would plan a new one) so
      // AQE finalizes the plan printed below
      df.queryExecution.toRdd.count()
      println(s"===== $name, sf=$dir =====")
      println(df.queryExecution.explainString(FormattedMode))
      println("== executedPlan (post-AQE) ==")
      println(df.queryExecution.executedPlan)
    }
    spark.stop()
  }
}
