package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ManifestTable

/** Atomic CTAS/RTAS (StagingTableCatalog): the AS-SELECT write stages in
  * an unlisted directory; commit is one rename (CREATE) or one adopt +
  * overwrite publish (REPLACE); a failed SELECT leaves NO table behind.
  */
class CtasSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val wh = Files.createTempDirectory("graft_ctas").toString
  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.gcts", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcts.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcts.db")
    "gcts"
  }

  test("CREATE TABLE AS SELECT lands atomically, partitioned") {
    (0 until 100).map(i => (i.toLong, i % 4, s"r$i")).toDF("id", "g", "s")
      .createOrReplaceTempView("ctas_src")
    spark.sql(s"""CREATE TABLE $cat.db.c1 PARTITIONED BY (g)
                 |AS SELECT * FROM ctas_src""".stripMargin)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.c1")
      .as[Long].head() == 100)
    // the CTAS write rode the declared partitioned layout
    val m = ManifestTable.readManifest(s"$wh/db/c1").get
    assert(ManifestTable.partitionColumnsOf(m) == Seq("g"))
    // no staging residue listed anywhere
    assert(spark.sql(s"SHOW TABLES IN $cat.db").collect()
      .map(_.getString(1)).forall(!_.contains("stage")))
  }

  test("a failing AS-SELECT leaves no table (and no listed residue)") {
    spark.udf.register("ctas_boom", (i: Long) =>
      if (i > 50) throw new RuntimeException("boom") else i)
    (0 until 100).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .createOrReplaceTempView("ctas_fail_src")
    intercept[Exception] {
      spark.sql(s"""CREATE TABLE $cat.db.cfail
                   |AS SELECT ctas_boom(id) AS id, s
                   |FROM ctas_fail_src""".stripMargin)
    }
    assert(!spark.catalog.tableExists(s"$cat.db.cfail"),
      "a failed CTAS must leave no table behind")
    assert(!spark.sql(s"SHOW TABLES IN $cat.db").collect()
      .map(_.getString(1)).exists(_.startsWith("cfail")))
  }

  test("REPLACE TABLE AS SELECT swaps atomically, keeps history") {
    (0 until 60).map(i => (i.toLong, s"a$i")).toDF("id", "s")
      .createOrReplaceTempView("rtas_src")
    spark.sql(s"CREATE TABLE $cat.db.r1 AS SELECT * FROM rtas_src")
    val v0 = ManifestTable.readManifest(s"$wh/db/r1").get.version
    spark.sql(s"""REPLACE TABLE $cat.db.r1
                 |AS SELECT id * 2 AS id2 FROM rtas_src WHERE id < 10
                 |""".stripMargin)
    val got = spark.sql(s"SELECT id2 FROM $cat.db.r1 ORDER BY id2")
      .as[Long].collect().toSeq
    assert(got == (0 until 10).map(_ * 2L))
    // the replace is a VERSIONED overwrite: the old contents time-travel
    val old = spark.sql(s"SELECT * FROM $cat.db.r1 VERSION AS OF $v0")
    assert(old.columns.toSeq == Seq("id", "s") && old.count() == 60)
    // CREATE OR REPLACE works on both existing and missing names
    spark.sql(s"""CREATE OR REPLACE TABLE $cat.db.r2
                 |AS SELECT 1 AS one""".stripMargin)
    assert(spark.sql(s"SELECT * FROM $cat.db.r2").as[Int].head() == 1)
  }

  test("partitioned RTAS: the replacement takes the new declared spec") {
    (0 until 80).map(i => (i.toLong, i % 4)).toDF("id", "g")
      .createOrReplaceTempView("prtas_src")
    spark.sql(s"CREATE TABLE $cat.db.pr1 AS SELECT id FROM prtas_src")
    spark.sql(s"""REPLACE TABLE $cat.db.pr1 PARTITIONED BY (g)
                 |AS SELECT * FROM prtas_src""".stripMargin)
    val m = ManifestTable.readManifest(s"$wh/db/pr1").get
    assert(ManifestTable.partitionColumnsOf(m) == Seq("g"),
      "RTAS data must land under the new partitioned layout")
    // subsequent INSERTs follow the new declared spec too
    spark.sql(s"INSERT INTO $cat.db.pr1 SELECT id + 100, g FROM prtas_src")
    val m2 = ManifestTable.readManifest(s"$wh/db/pr1").get
    assert(ManifestTable.partitionColumnsOf(m2) == Seq("g"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.pr1 WHERE g = 1")
      .as[Long].head() == 40)
    // and replacing BACK to unpartitioned clears the declared spec
    spark.sql(s"REPLACE TABLE $cat.db.pr1 AS SELECT 1 AS one")
    spark.sql(s"INSERT INTO $cat.db.pr1 VALUES (2)")
    assert(spark.sql(s"SELECT sum(one) FROM $cat.db.pr1")
      .as[Long].head() == 3)
  }

  test("REPLACE of a missing table is a typed error; OR REPLACE is not") {
    val e = intercept[Exception] {
      spark.sql(s"REPLACE TABLE $cat.db.ghost AS SELECT 1 AS one")
    }
    assert(e.getMessage.toLowerCase.contains("table") &&
      (e.getMessage.contains("ghost") ||
        e.getMessage.toUpperCase.contains("NOT_FOUND")))
  }

  test("CTAS with TBLPROPERTIES: the staged write carries the declared " +
      "skipping structures and the read prunes on them") {
    val read = graft.queries.StorageLayout
      .q106CtasCapstone(spark, TestSpark.sf001)
    // every CTAS-written file carries both declared blooms
    val tdir = spark.conf.getAll.collectFirst {
      case (k, v) if k.startsWith("spark.sql.catalog.gq106_") &&
        k.endsWith(".warehouse") => s"$v/ord"
    }.get
    val m = graft.sources.ManifestTable.readManifest(tdir).get
    assert(m.files.nonEmpty &&
      m.files.forall(f => f.stats.blooms.contains("o_custkey") &&
        f.stats.blooms.contains("o_orderpriority")),
      "CTAS must apply the TBLPROPERTIES blooms to the staged write")
    // the combined range + bloom-equality predicate reads ONE file of 8
    val df = read()
    assert(df.count() >= 1)
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains(s"files=1/${m.files.size}"),
      s"zone maps + blooms must localize the SQL read: $desc")
  }
}
