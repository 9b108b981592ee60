package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Fns
import graft.operators.TextAnalysis

/** Variable-length repeated-span ladder (p56): ladder rows equal the
  * unpruned per-width recompute (the doc-prune is exact), the stop is
  * exact (empty width => nothing wider), and widths with no survivors
  * contribute nothing.
  */
class RepeatedSpansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 3 docs share an 8-token run that extends to a shared 16-token run in
  // all 3; a different 8-token run repeats in only 2 docs (below minDf);
  // nothing 32 tokens long repeats.
  private val shared16 = (1 to 16).map(i => s"s$i").mkString(" ")
  private val pair8 = (1 to 8).map(i => s"p$i").mkString(" ")
  private def docs = Seq(
    (0L, s"alpha $shared16 beta gamma"),
    (1L, s"$shared16 delta"),
    (2L, s"epsilon zeta $shared16"),
    (3L, s"$pair8 eta"),
    (4L, s"theta $pair8"),
    (5L, "iota kappa lambda mu nu xi omicron pi rho"))
    .toDF("doc_id", "text")

  test("ladder reports each width's df>=minDf spans and stops when a width is empty") {
    val got = TextAnalysis.repeatedSpansLadder(docs, "doc_id", "text",
        baseN = 8, minDf = 3, maxN = 64)
      .orderBy("span_len", "span")
      .as[(Int, String, Long, Long)].collect().toSeq
    // width 8: the 9 windows of the shared 16-run all live in docs 0,1,2
    val w8 = (0 to 8).map(i =>
      (8, (i + 1 to i + 8).map(j => s"s$j").mkString(" "), 3L, 0L))
    // width 16: exactly the shared run; width 32: nothing -> ladder stops
    val w16 = Seq((16, shared16, 3L, 0L))
    assert(got == (w8 ++ w16).sortBy(r => (r._1, r._2)))
    assert(!got.exists(_._1 >= 32))
  }

  test("doc-prune is exact: ladder equals the unpruned per-width recompute") {
    val d = graft.api.Tables.t(spark, TestSpark.sf0001, "documents")
    val ladder = TextAnalysis.repeatedSpansLadder(d, "doc_id", "text",
        baseN = 8, minDf = 3, maxN = 32)
      .orderBy("span_len", "span").collect().toSeq
    val brute = Seq(8, 16, 32).flatMap { n =>
      d.select(col("doc_id"),
          Fns.shingleRows(Fns.tokens(col("text")), n).as("span"))
        .groupBy("span")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
        .filter(col("n_docs") >= 3)
        .select(lit(n).as("span_len"), col("span"), col("n_docs"),
          col("first_doc"))
        .orderBy("span").collect().toSeq
    }
    assert(ladder == brute)
  }

  test("pruneDocs=false (the A/B measurement knob) is row-identical") {
    val d = graft.api.Tables.t(spark, TestSpark.sf0001, "documents")
    def run(prune: Boolean) = TextAnalysis.repeatedSpansLadder(
        d, "doc_id", "text", baseN = 8, minDf = 3, maxN = 32,
        pruneDocs = prune)
      .orderBy("span_len", "span").collect().toSeq
    assert(run(prune = true) == run(prune = false))
  }
}
