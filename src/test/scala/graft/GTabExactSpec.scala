package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{CowOps, ManifestTable}

/** The gtab reader evaluates `=`, IN, ranges and IS NOT NULL on int,
  * long and string columns itself (GTabExact). Its answer must be the
  * one Spark computes over the same rows, whatever the file: one written
  * before the column existed, one behind a value deletion vector, one
  * behind a position deletion vector, and with or without the filter
  * column in the projection.
  */
class GTabExactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Fmt = "graft.sources.ManifestTable"
  private lazy val wh = Files.createTempDirectory("graft_exact").toString
  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.gex", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gex.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gex.db")
    "gex"
  }

  // strings that order differently as UTF-16 and as UTF-8 bytes, plus
  // the codec's escapes and its null marker spelled as data
  private val Strs = Seq("", "a", "ab", "b", "tab\there", "back\\slash",
    "\\N", "é", "�", "𝄞", "z")

  private def str(i: Int): String =
    if (i % 9 == 0) null else Strs(i % Strs.length) + (i % 5)

  test("handled predicates equal Spark's evaluation over the same rows") {
    val c = cat
    spark.sql(s"""CREATE TABLE $c.db.ex (id BIGINT, n INT)
                 |TBLPROPERTIES('write.delete.mode'='merge-on-read')"""
      .stripMargin)
    val dir = s"$wh/db/ex"
    // files 1-2 predate column s
    (0 until 200).map(i => (i.toLong * 3 - 100,
        if (i % 7 == 0) None else Some(i % 50 - 25)))
      .toDF("id", "n").repartition(2).createOrReplaceTempView("ex_a")
    spark.sql(s"INSERT INTO $c.db.ex SELECT * FROM ex_a")
    spark.sql(s"ALTER TABLE $c.db.ex ADD COLUMN s STRING")
    (200 until 500).map(i => (if (i == 499) Long.MaxValue else i.toLong * 3,
        if (i % 6 == 0) None else Some(i % 50 - 25), str(i)))
      .toDF("id", "n", "s").repartition(3).createOrReplaceTempView("ex_b")
    spark.sql(s"INSERT INTO $c.db.ex SELECT * FROM ex_b")
    // position deletion vectors from a key-set delete, then chained
    // onto by SQL DELETE
    CowOps.deleteMor(spark, dir, Seq(-97L, 3L, 600L, 903L).toDF("id"), "id")
    val keyed = ManifestTable.readManifest(dir).get.files
      .flatMap(f => f.stats.dv.map(f.name -> _.count)).toMap
    assert(keyed.values.sum == 3) // key 3 holds no row
    spark.sql(s"DELETE FROM $c.db.ex WHERE id % 13 = 0")
    val m = ManifestTable.readManifest(dir).get
    assert(m.files.exists(!_.cols.contains("s")))
    assert(m.files.exists(f =>
      keyed.get(f.name).exists(_ < f.stats.dv.get.count)))

    val table = spark.read.format(Fmt).option("path", dir).load()
    val all = table.collect().toSeq
    val mem = spark.createDataFrame(
      spark.sparkContext.parallelize(all, 2), table.schema)

    val rnd = new Random(8)
    val ids = all.map(_.getLong(0))
    val ns = all.filterNot(_.isNullAt(1)).map(_.getInt(1))
    val ss = all.filterNot(_.isNullAt(2)).map(_.getString(2))
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def atom(): Column = rnd.nextInt(3) match {
      case 0 => cmp(col("id"), () =>
        if (rnd.nextBoolean()) pick(ids) else rnd.nextLong(2000) - 200)
      case 1 => cmp(col("n"), () =>
        if (rnd.nextBoolean()) pick(ns) else rnd.nextInt(80) - 40)
      case _ => cmp(col("s"), () =>
        if (rnd.nextBoolean()) pick(ss) else pick(Strs))
    }
    def cmp(c: Column, v: () => Any): Column = rnd.nextInt(7) match {
      case 0 => c === v()
      case 1 => c < v()
      case 2 => c <= v()
      case 3 => c > v()
      case 4 => c >= v()
      case 5 => c.isin(Seq.fill(1 + rnd.nextInt(4))(v()): _*)
      case _ => c.isNotNull
    }
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    for (round <- 0 until 60) {
      val cond = Seq.fill(1 + rnd.nextInt(3))(atom()).reduce(_ && _)
      // every third round projects away every filter column
      val proj = if (round % 3 == 0) Seq(lit(1).as("one")) else
        Seq(col("id"), col("n"), col("s"))
      val got = table.filter(cond).select(proj: _*)
      assert(rows(got) == rows(mem.filter(cond).select(proj: _*)),
        s"round $round: $cond")
      assert(got.queryExecution.executedPlan.collect {
        case f: FilterExec => f }.isEmpty,
        s"round $round: $cond left a FilterExec above the scan")
    }
  }

  test("SQL UPDATE and DELETE still rewrite whole files") {
    val c = cat
    spark.sql(s"CREATE TABLE $c.db.dml (id BIGINT, v BIGINT, s STRING)")
    (0 until 100).map(i => (i.toLong, i.toLong * 10, s"r$i"))
      .toDF("id", "v", "s").repartitionByRange(4, col("id"))
      .createOrReplaceTempView("dml_src")
    spark.sql(s"INSERT INTO $c.db.dml SELECT * FROM dml_src")
    val dir = s"$wh/db/dml"
    val before = ManifestTable.readManifest(dir).get.files.map(_.name).toSet
    // the handled shapes must reach the group scan as residual filters:
    // evaluated in the scan, they would drop the rest of each file
    spark.sql(s"UPDATE $c.db.dml SET s = 'upd' WHERE id = 5")
    spark.sql(s"DELETE FROM $c.db.dml WHERE id >= 60 AND s LIKE 'r6%'")
    val after = ManifestTable.readManifest(dir).get.files.map(_.name).toSet
    assert((before -- after).nonEmpty && (before -- after).size < before.size)
    val got = spark.sql(s"SELECT id, v, s FROM $c.db.dml").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    val want = (0 until 100).filterNot(i => i >= 60 && i < 70).map(i =>
      (i.toLong, i.toLong * 10, if (i == 5) "upd" else s"r$i"))
    assert(got.toSeq == want)
  }

  test("files-option reads keep every filter residual") {
    val dir = Files.createTempDirectory("graft_exact_files").toString
    spark.range(0, 100).write.format(Fmt).option("path", dir)
      .mode("overwrite").save()
    val name = ManifestTable.readManifest(dir).get.files.head.name
    val df = spark.read.format(Fmt).option("path", dir)
      .option("files", name).load().filter($"id" === 7L)
    assert(df.queryExecution.executedPlan.collect {
      case f: FilterExec => f }.nonEmpty)
    assert(df.count() <= 1)
  }

  test("row layout: the filter column is read from each file's own layout") {
    val dir = Files.createTempDirectory("graft_exact_layout").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.format(Fmt)
      .option("path", dir).mode("overwrite").save()
    // a second file with the columns swapped, appended through the
    // by-name write path
    Seq(("c", 3L), ("b", 4L)).toDF("s", "id").write.format(Fmt)
      .option("path", dir).mode("append").save()
    assert(ManifestTable.readManifest(dir).get.files.map(_.cols).toSet ==
      Set(Seq("id", "s"), Seq("s", "id")))
    val t = spark.read.format(Fmt).option("path", dir).load()
    assert(t.filter($"s" === "b").select("id").as[Long].collect().sorted
      .toSeq == Seq(2L, 4L))
    assert(t.filter($"id" > 2L).select("s").as[String].collect().sorted
      .toSeq == Seq("b", "c"))
    assert(t.filter($"id".isin(1L, 4L)).count() == 2)
    val rows = t.filter($"s" < "c").collect().map((r: Row) =>
      r.getAs[Long]("id")).sorted.toSeq
    assert(rows == Seq(1L, 2L, 4L))
  }
}
