package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Fns
import graft.operators.ClusteredWrite

class ClusteredWriteSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val root = Files.createTempDirectory("graft_clustered").toString

  override def afterAll(): Unit =
    try graft.sources.FsMeta.deleteRecursive(root) finally super.afterAll()

  private def parquetFiles(dir: String) =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))

  test("file sizing: output file count tracks the byte target") {
    val df = spark.read.parquet(s"${TestSpark.sf001}/lineitem.parquet")
    val out = s"$root/sizing"
    ClusteredWrite.writeClustered(df, out,
      Seq(col("l_orderkey")), targetBytes = 256L << 10)
    val files = parquetFiles(out)
    // ~1.7 MB of parquet at a 256 KB target: several files, not 1, not 100
    assert(files.length >= 3 && files.length <= 64, files.length.toString)
    // no zero-row shards, and rows survive exactly
    assert(spark.read.parquet(out).count() == df.count())
  }

  test("z-order clustering: per-file bboxes shrink on BOTH dimensions") {
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
    def worstBBox(dir: String): Long = {
      val spark2 = spark
      import spark2.implicits._
      parquetFiles(dir).map { f =>
        val s = spark.read.parquet(f.getPath)
          .agg(max("x") - min("x"), max("y") - min("y"))
          .as[(Long, Long)].head()
        s._1 + s._2
      }.max
    }
    val zOut = s"$root/z"
    grid.withColumn("zkey", Fns.zorderKey($"x", $"y"))
      .repartitionByRange(16, $"zkey").sortWithinPartitions("zkey")
      .write.mode("overwrite").parquet(zOut)
    val rowMajorOut = s"$root/rowmajor"
    grid.repartitionByRange(16, $"x", $"y").sortWithinPartitions("x", "y")
      .write.mode("overwrite").parquet(rowMajorOut)
    val zBox = worstBBox(zOut)
    val rmBox = worstBBox(rowMajorOut)
    // row-major files span the full y range (63); z-ordered files stay
    // tight in both dims — this is exactly what min/max pruning sees
    assert(zBox < rmBox, s"z=$zBox rowMajor=$rmBox")
    assert(zBox <= 31, s"z-order bbox too loose: $zBox")
  }
}
