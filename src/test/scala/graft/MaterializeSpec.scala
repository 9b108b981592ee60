package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{ConnectedComponents, Dedup, Materialize}

/** Round-19: the reliable-checkpoint knob (verdict ask #9). Default =
  * localCheckpoint (executor blocks, no storage round-trip — the bench
  * shape); spark.graft.checkpoint.reliable=true switches every
  * Materialize.cut site to a storage-backed Dataset.checkpoint for
  * clusters where executor loss must not kill the job. Same values
  * either way.
  */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def docsOf(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "a b c d x"),
      (4L, "q r s t u"), (5L, "zz yy xx")).toDF("doc_id", "text")
  }

  private def run(s: org.apache.spark.sql.SparkSession) = {
    val d = docsOf(s)
    val pairs = Dedup.minhashNearDupPairs(d, "doc_id", "text")
    ConnectedComponents.dedupGroups(d, "doc_id", pairs)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
  }

  test("reliable mode requires a checkpoint dir") {
    val s2 = spark.newSession()
    s2.conf.set(Materialize.ReliableKey, "true")
    if (s2.sparkContext.getCheckpointDir.isEmpty) {
      val e = intercept[IllegalArgumentException] { run(s2) }
      assert(e.getMessage.contains(Materialize.ReliableKey))
    } else succeed // another suite already set a dir on the shared context
  }

  test("reliable checkpoints produce the same groups as local ones") {
    val local = run(spark) // default: localCheckpoint
    val s2 = spark.newSession()
    s2.conf.set(Materialize.ReliableKey, "true")
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    s2.sparkContext.setCheckpointDir(dir) // context-global, harmless
    val reliable = run(s2)
    assert(reliable === local)
    // doc 3 shares only 2 of 4 distinct 3-shingles with doc 1
    // (jaccard 0.5 < 0.8) — a singleton, not a group member
    assert(reliable === Seq((1L, 1L, true), (2L, 1L, false),
      (3L, 3L, true), (4L, 4L, true), (5L, 5L, true)))
    // the reliable path actually wrote checkpoint data to storage
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(wrote > 0, s"no reliable checkpoint files under $dir")
  }

  test("cutCounted counts the rows its own job materializes, in both modes") {
    val s2 = spark.newSession()
    s2.conf.set(Materialize.ReliableKey, "true")
    if (s2.sparkContext.getCheckpointDir.isEmpty)
      s2.sparkContext.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    for (s <- Seq(spark, s2)) {
      val (cut, n) = Materialize.cutCounted(s.range(0, 1000, 1, 3)
        .filter("id % 7 = 0").toDF())
      assert(n == 143)
      assert(cut.count() == 143)
    }
  }
}
