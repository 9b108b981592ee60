package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ManifestTable

/** ALTER TABLE surface beyond ADD COLUMN (GraftCatalog.alterTable):
  * RENAME COLUMN, DROP COLUMN, and int -> bigint widening — all
  * metadata-only manifest commits, with time travel returning each
  * version's own schema, skipping structures surviving a rename, and
  * the dropped-name re-add hazard rejected until compaction.
  */
class AlterTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Fmt = "graft.sources.ManifestTable"
  private lazy val wh = Files.createTempDirectory("graft_alter").toString
  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.galt", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.galt.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS galt.db")
    "galt"
  }

  private def mk(name: String): String = {
    spark.sql(s"CREATE TABLE $cat.db.$name (id BIGINT, v INT, s STRING)")
    (0 until 50).map(i => (i.toLong, i, s"r$i")).toDF("id", "v", "s")
      .repartitionByRange(2, col("id")).sortWithinPartitions("id")
      .createOrReplaceTempView(s"${name}_src")
    spark.sql(s"INSERT INTO $cat.db.$name SELECT * FROM ${name}_src")
    s"$wh/db/$name"
  }

  test("RENAME COLUMN: read-back, zone maps still prune, time travel") {
    val dir = mk("rn")
    val v0 = ManifestTable.readManifest(dir).get.version
    spark.sql(s"ALTER TABLE $cat.db.rn RENAME COLUMN v TO val")
    // read-back under the new name
    assert(spark.sql(s"SELECT sum(val) FROM $cat.db.rn")
      .head().getLong(0) == (0 until 50).sum)
    assert(!spark.sql(s"SELECT * FROM $cat.db.rn").columns.contains("v"))
    // zone maps renamed with the column: a range predicate on the NEW
    // name still skips files (2 range-disjoint files; id ties v)
    val scan = spark.sql(s"SELECT val FROM $cat.db.rn WHERE val < 10")
    assert(scan.collect().map(_.getInt(0)).sorted.toSeq == (0 until 10))
    val desc = scan.queryExecution.executedPlan.toString
    assert(desc.contains("files=1/2"),
      s"rename must carry the zone maps: $desc")
    // time travel: the pre-rename snapshot keeps the OLD schema
    val old = spark.sql(s"SELECT * FROM $cat.db.rn VERSION AS OF $v0")
    assert(old.columns.toSeq == Seq("id", "v", "s"))
    assert(old.count() == 50)
  }

  test("RENAME of the partition column keeps layout + declared spec") {
    spark.sql(s"CREATE TABLE $cat.db.rp (id BIGINT, g INT) " +
      "PARTITIONED BY (g)")
    (0 until 40).map(i => (i.toLong, i % 4)).toDF("id", "g")
      .createOrReplaceTempView("rp_src")
    spark.sql(s"INSERT INTO $cat.db.rp SELECT * FROM rp_src")
    spark.sql(s"ALTER TABLE $cat.db.rp RENAME COLUMN g TO grp")
    val m = ManifestTable.readManifest(s"$wh/db/rp").get
    assert(ManifestTable.partitionColumnsOf(m) == Seq("grp"),
      "partition values must rename with the column")
    // the declared write-side spec followed: a new INSERT still
    // partitions (single-valued files on grp)
    spark.sql(s"INSERT INTO $cat.db.rp SELECT id + 100, grp FROM " +
      s"(SELECT id, g AS grp FROM rp_src)")
    val m2 = ManifestTable.readManifest(s"$wh/db/rp").get
    assert(ManifestTable.partitionColumnsOf(m2) == Seq("grp"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.rp WHERE grp = 1")
      .head().getLong(0) == 20)
  }

  test("DROP COLUMN: gone from reads; re-ADD rejected until compaction") {
    val dir = mk("dr")
    spark.sql(s"ALTER TABLE $cat.db.dr DROP COLUMN v")
    assert(spark.sql(s"SELECT * FROM $cat.db.dr").columns.toSeq ==
      Seq("id", "s"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.dr")
      .head().getLong(0) == 50)
    // the stale encoding is still in the data lines — re-adding the
    // name (with ANY type) must be refused until a rewrite purges it
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.dr ADD COLUMN v DOUBLE")
    }
    assert(e.getMessage.contains("compact"),
      s"expected the compact-first rejection, got: ${e.getMessage}")
    // compaction reads through the current schema and drops the column
    // from the rewritten files — after it, re-ADD works and reads null
    ManifestTable.compact(spark, dir, 2, clusterBy = Seq("id"))
    spark.sql(s"ALTER TABLE $cat.db.dr ADD COLUMN v DOUBLE")
    val r = spark.sql(
      s"SELECT count(*) FROM $cat.db.dr WHERE v IS NULL").head()
    assert(r.getLong(0) == 50)
  }

  test("int -> bigint widening is metadata-only and exact") {
    val dir = mk("wd")
    val filesBefore = ManifestTable.readManifest(dir).get.files
      .map(_.name).toSet
    spark.sql(s"ALTER TABLE $cat.db.wd ALTER COLUMN v TYPE BIGINT")
    val m = ManifestTable.readManifest(dir).get
    assert(m.schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(m.files.map(_.name).toSet == filesBefore,
      "widening must not rewrite any data file")
    // values parse exactly under the widened type; zone maps still prune
    assert(spark.sql(s"SELECT sum(v) FROM $cat.db.wd")
      .head().getLong(0) == (0 until 50).sum)
    val scan = spark.sql(s"SELECT v FROM $cat.db.wd WHERE v >= 40")
    assert(scan.collect().map(_.getLong(0)).sorted.toSeq ==
      (40L until 50L))
    assert(scan.queryExecution.executedPlan.toString.contains("files=1/2"))
    // appends at the widened type work; narrowing back is rejected
    spark.sql(s"INSERT INTO $cat.db.wd VALUES (100, ${Long.MaxValue}, 'x')")
    assert(spark.sql(s"SELECT max(v) FROM $cat.db.wd")
      .head().getLong(0) == Long.MaxValue)
    // narrowing is rejected (Spark's analyzer refuses bigint -> int
    // before the catalog even sees it; our guard backstops the rest)
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.wd ALTER COLUMN v TYPE INT")
    }
    assert(ManifestTable.readManifest(dir).get.schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    // non-int widenings our guard rejects with its own message
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.wd ALTER COLUMN s TYPE BIGINT")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("widening") ||
      m.toUpperCase.contains("NOT_SUPPORTED")))
  }

  test("time travel returns each version's own schema across all three") {
    val dir = mk("tt")
    val v0 = ManifestTable.readManifest(dir).get.version
    spark.sql(s"ALTER TABLE $cat.db.tt RENAME COLUMN v TO val")
    val v1 = ManifestTable.readManifest(dir).get.version
    spark.sql(s"ALTER TABLE $cat.db.tt ALTER COLUMN val TYPE BIGINT")
    val v2 = ManifestTable.readManifest(dir).get.version
    spark.sql(s"ALTER TABLE $cat.db.tt DROP COLUMN s")
    def colsAt(v: Long): Seq[(String, String)] =
      spark.sql(s"SELECT * FROM $cat.db.tt VERSION AS OF $v")
        .schema.fields.toSeq.map(f => (f.name, f.dataType.simpleString))
    assert(colsAt(v0) ==
      Seq("id" -> "bigint", "v" -> "int", "s" -> "string"))
    assert(colsAt(v1) ==
      Seq("id" -> "bigint", "val" -> "int", "s" -> "string"))
    assert(colsAt(v2) ==
      Seq("id" -> "bigint", "val" -> "bigint", "s" -> "string"))
    assert(spark.sql(s"SELECT * FROM $cat.db.tt").schema.fields.toSeq
      .map(f => (f.name, f.dataType.simpleString)) ==
      Seq("id" -> "bigint", "val" -> "bigint"))
    // each pinned read also returns its own ROWS under that schema
    assert(spark.sql(
      s"SELECT sum(v) FROM $cat.db.tt VERSION AS OF $v0")
      .head().getLong(0) == (0 until 50).sum)
  }

  test("RENAME carries per-file blooms: point lookups prune under the " +
      "new name") {
    spark.sql(s"CREATE TABLE $cat.db.rb (id BIGINT, s STRING)")
    (0 until 400).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .repartition(4, col("id"))
      .write.format(Fmt).option("path", s"$wh/db/rb")
      .option("bloomColumns", "id").mode("append").save()
    spark.sql(s"ALTER TABLE $cat.db.rb RENAME COLUMN id TO ident")
    val m = ManifestTable.readManifest(s"$wh/db/rb").get
    assert(m.files.forall(_.stats.blooms.contains("ident")),
      "blooms must rename with the column")
    assert(m.files.forall(f => !f.stats.blooms.contains("id") &&
      !f.stats.zones.contains("id")))
    // hash-scattered layout: only the bloom can prune the point lookup
    val q = spark.sql(
      s"SELECT s FROM $cat.db.rb WHERE ident = 137")
    assert(q.collect().map(_.getString(0)).toSeq == Seq("r137"))
    val desc = q.queryExecution.executedPlan.toString
    val m1 = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc).get
    assert(m1.group(1).toInt < m1.group(2).toInt,
      s"bloom must keep pruning under the renamed key: $desc")
  }

  test("RENAME of a MOR-deleted key column keeps deletion vectors live") {
    spark.sql(s"CREATE TABLE $cat.db.rd (id BIGINT, s STRING)")
    (0 until 100).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .repartitionByRange(2, col("id")).sortWithinPartitions("id")
      .write.format(Fmt).option("path", s"$wh/db/rd")
      .mode("append").save()
    graft.sources.CowOps.deleteMor(spark, s"$wh/db/rd",
      spark.range(0, 100, 10).select(col("id")), "id")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.rd")
      .head().getLong(0) == 90)
    def dvs() = ManifestTable.readManifest(s"$wh/db/rd").get.files
      .map(f => f.name -> f.stats.dv).toMap
    val before = dvs()
    assert(before.values.exists(_.isDefined))
    spark.sql(s"ALTER TABLE $cat.db.rd RENAME COLUMN id TO ident")
    assert(dvs() == before,
      "position vectors name no column: RENAME leaves them untouched")
    // the sidecar still subtracts: deleted keys stay invisible under
    // the new name, and a COW rewrite through the merge still works
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.rd")
      .head().getLong(0) == 90)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.db.rd WHERE ident % 10 = 0")
      .head().getLong(0) == 0)
    spark.sql(s"UPDATE $cat.db.rd SET s = 'u' WHERE ident = 11")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.rd")
      .head().getLong(0) == 90)
  }

  test("DROP of a partition column and last column are rejected") {
    spark.sql(s"CREATE TABLE $cat.db.gd (id BIGINT, g INT) " +
      "PARTITIONED BY (g)")
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.gd DROP COLUMN g")
    }
    assert(e.getMessage.contains("partition column"))
    spark.sql(s"CREATE TABLE $cat.db.lc (id BIGINT)")
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.lc DROP COLUMN id")
    }
    assert(e2.getMessage.contains("last column"))
  }

  test("commitSchema recomputes from the current manifest on CAS retry") {
    val dir = Files.createTempDirectory("graft_cs_race").toString
    (0 until 10).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode("append").save()
    var calls = 0
    ManifestTable.commitSchema(dir, cur => {
      calls += 1
      // a foreign append lands between this attempt's read and publish:
      // a PREcomputed schema would publish over it and silently revert
      // nothing here (append only adds files) — but the reverse race
      // (schema change during a long analyze) is the same CAS window
      if (calls == 1)
        (10 until 20).map(i => (i.toLong, s"r$i")).toDF("id", "s")
          .write.format(Fmt).option("path", dir).mode("append").save()
      (cur.schema.add("extra", org.apache.spark.sql.types.DoubleType,
        nullable = true), identity[Seq[ManifestTable.FileEntry]] _)
    })
    assert(calls == 2, s"expected one CAS retry, transform ran $calls time(s)")
    val m = ManifestTable.readManifest(dir).get
    assert(m.schema.fieldNames.contains("extra"))
    // the interleaved append's rows survived the schema commit
    assert(spark.read.format(Fmt).option("path", dir).load().count() == 20)
  }

  test("CREATE and RENAME refuse reserved stat-key and metadata names") {
    // a column named like a reserved '#' stat key would have its zone
    // map read as that key; `_file` would shadow the metadata column
    Seq("`#dvp`", "`#sz`", "`#dv:x`").foreach { c =>
      val e = intercept[Exception] {
        spark.sql(s"CREATE TABLE $cat.db.rk_new (id BIGINT, $c BIGINT)")
      }
      assert(e.getMessage.contains("reserved"), e.getMessage)
    }
    mk("rk")
    Seq("`#dvp`", "`#sz`", "_file").foreach { c =>
      val e = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.db.rk RENAME COLUMN v TO $c")
      }
      assert(e.getMessage.contains("reserved"), e.getMessage)
    }
    assert(spark.sql(s"SELECT * FROM $cat.db.rk").columns.toSeq ==
      Seq("id", "v", "s"))
    assert(spark.sql(s"SELECT sum(v) FROM $cat.db.rk WHERE id >= 10")
      .head().getLong(0) == (10 until 50).sum)
  }

  test("a '#' column an older build accepted: writes name the fix, " +
      "RENAME recovers its zone maps") {
    val dir = mk("hk")
    // what an older build wrote for a column `#n`: the schema and the
    // files' column lists name it, and its zone map sits under `#n`
    ManifestTable.commitSchema(dir, cur => (StructType(cur.schema.fields
      .map(f => if (f.name == "v") f.copy(name = "#n") else f)),
      _.map(f => f.copy(cols = f.cols.map(c => if (c == "v") "#n" else c),
        stats = f.stats.renamed("v", "#n")))))
    assert(ManifestTable.readManifest(dir).get.files.forall(f =>
      !f.stats.zones.contains("#n") && f.stats.rest.contains("#n")))
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.db.hk VALUES (100, 100, 'x')")
    }
    assert(e.getMessage.contains("RENAME COLUMN"), e.getMessage)
    spark.sql(s"ALTER TABLE $cat.db.hk RENAME COLUMN `#n` TO n")
    assert(ManifestTable.readManifest(dir).get.files.forall(f =>
      f.stats.zones.contains("n") && f.stats.rest.isEmpty))
    val scan = spark.sql(s"SELECT n FROM $cat.db.hk WHERE n < 10")
    assert(scan.collect().map(_.getInt(0)).sorted.toSeq == (0 until 10))
    val desc = scan.queryExecution.executedPlan.toString
    assert(desc.contains("files=1/2"), s"zone maps must prune again: $desc")
    spark.sql(s"INSERT INTO $cat.db.hk VALUES (100, 100, 'x')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.hk").head().getLong(0)
      == 51)
  }
}
