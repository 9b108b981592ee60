package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.api.{Registry, Tables}

/** Distinct results of one named operation, kept for run.py to check: a
  * result that differs from the first one is kept as well, so every
  * execution is covered by the check. */
final class Results {
  private val byName = mutable.LinkedHashMap[String,
    mutable.LinkedHashMap[Int, (Int, Seq[String], Seq[Row])]]()

  def record(name: String, cols: Seq[String], rows: Seq[Row]): Unit = {
    val digest = (cols, rows.map(_.toSeq)).hashCode
    val m = byName.getOrElseUpdate(name, mutable.LinkedHashMap())
    val (n, c, r) = m.getOrElse(digest, (0, cols, rows))
    m(digest) = (n + 1, c, r)
  }

  def json(name: String): Seq[Map[String, Any]] =
    byName.getOrElse(name, mutable.LinkedHashMap()).values.map {
      case (n, cols, rows) => Map("count" -> n, "columns" -> cols,
        "rows" -> rows)
    }.toSeq
}

/** `relational`: a seeded-order mix of short relational queries, where
  * driver planning and job launch are a large share of each one. */
object Relational {
  val Queries = Seq("q01_pricing_summary", "q03_segment_revenue",
    "q04_priority_revenue", "q05_region_revenue", "q09_topk_per_customer",
    "q22_asof_join", "q25_sessionize", "q26_sql_surface")
}

final class Relational(spark: SparkSession, a: Args) extends Workload {
  import Relational.Queries
  private val dir = a.data.toString
  private val results = new Results

  /** Resolves every table the queries read and registers it as a view:
    * listing, footers and schema inference. */
  def setup(rep: Int): Unit = Tables.names.filterNot(Set("documents",
    "embeddings")).foreach(t =>
      Tables.t(spark, dir, t).createOrReplaceTempView(t))

  private def op(q: String) = Op("queries." + q, () => {
    val (cols, rows) = Tracer.span("queries." + q) {
      val df = Registry.byName(q).run(spark, dir)
      (df.columns.toSeq, df.collect().toSeq)
    }
    () => { results.record(q, cols, rows); None }
  })

  def warmup: Seq[Op] = Queries.map(op)
  def roundSeconds: Double = 8.0

  def round(r: Int): Seq[Op] =
    new scala.util.Random(a.seed * 7919L + r).shuffle(Queries).map(op)

  override def layer(ops: Seq[OpRec], traced: Seq[OpStats]): Map[String, Double] =
    Queries.map(q => s"queries.${q}_s" ->
      Stats.median(ops.filter(_.label == "queries." + q).map(_.seconds))).toMap

  override def deferred: Seq[Map[String, Any]] = Queries.map(q => Map(
    "kind" -> "oracle", "name" -> q,
    "sql" -> graft.SparkEntry.oracleSql(q), "results" -> results.json(q)))
}
