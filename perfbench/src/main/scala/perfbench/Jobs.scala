package perfbench

import org.apache.spark.sql.SparkSession

/** `jobs`: the `wordcount` and `relational` workloads as one closed loop —
  * each round runs the four core word-count flavors and the eight
  * relational queries in a seeded order. Both are sub-second jobs, so one
  * loop measures twice the operations in the time two runs would spend
  * starting a JVM and warming up. */
final class Jobs(spark: SparkSession, a: Args) extends Workload {
  private val wc = new WordCount(spark, a)
  private val rel = new Relational(spark, a)

  def setup(rep: Int): Unit = { wc.setup(rep); rel.setup(rep) }
  /** A full round, then the word counts again: after one round their
    * next runs are still a quarter slower, the queries' are not. */
  def warmup: Seq[Op] = round(-1) ++ wc.round(-2)
  def round(r: Int): Seq[Op] =
    new scala.util.Random(a.seed * 104729L + r).shuffle(wc.round(r) ++ rel.round(r))
  def roundSeconds: Double = wc.roundSeconds + rel.roundSeconds

  override def layer(ops: Seq[OpRec], traced: Seq[OpStats]): Map[String, Double] =
    wc.layer(ops, traced) ++ rel.layer(ops, traced)
  override def context: Map[String, Double] = wc.context
  override def deferred: Seq[Map[String, Any]] = rel.deferred
}
