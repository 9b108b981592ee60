package graft.streaming

/** Demo main: drives the streaming transforms over the static fixture
  * directory (file source -> watermark -> windowed agg -> memory sink)
  * and prints row counts. Correctness is established by batch
  * equivalence in StreamingSpec against the oracle-checked q23/q24.
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tumbling = EventStreams.runToMemory(spark, dir, "demo_tumbling")(
      EventStreams.tumblingCounts)
    val sliding = EventStreams.runToMemory(spark, dir, "demo_sliding")(
      EventStreams.slidingStats)
    val deduped = EventStreams.runToMemory(spark, dir, "demo_dedup", "append")(
      EventStreams.dedupedEvents)
    println(s"[streaming-demo] tumbling=${tumbling.count()} rows, " +
      s"sliding=${sliding.count()} rows, deduped=${deduped.count()} rows")
    spark.stop()
  }
}
