package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Session.builder(4)
      .master("local[4, 2]") // 2 task-failure retries: FaultToleranceSpec
      .appName("graft-tests")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
