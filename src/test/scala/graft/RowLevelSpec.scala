package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ManifestTable

/** SQL row-level DML (SupportsRowLevelOperations, group-based COW):
  * UPDATE, MERGE INTO, and non-translatable DELETE rewrite O(affected
  * files) through the replace-groups commit; translatable DELETEs still
  * take GTabDelete's metadata path; snapshot isolation surfaces
  * concurrent commits as typed conflicts; layout (partitioning, blooms)
  * survives the rewrite.
  */
class RowLevelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Fmt = "graft.sources.ManifestTable"
  private lazy val wh = Files.createTempDirectory("graft_rl").toString
  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.grl", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grl.warehouse", wh)
    "grl"
  }

  private def mkTable(name: String, n: Int = 100): String = {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.$name (id BIGINT, v BIGINT, s STRING)")
    (0 until n).map(i => (i.toLong, i.toLong * 10, s"r$i"))
      .toDF("id", "v", "s")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .createOrReplaceTempView(s"${name}_src")
    spark.sql(s"INSERT INTO $cat.db.$name SELECT * FROM ${name}_src")
    s"$wh/db/$name"
  }

  test("SQL UPDATE rewrites only the affected files") {
    val dir = mkTable("u1")
    // range-cluster into 4 disjoint files so the predicate localizes
    ManifestTable.compact(spark, dir, 4, clusterBy = Seq("id"))
    val filesBefore = ManifestTable.readManifest(dir).get.files
    assert(filesBefore.size == 4)
    spark.sql(s"UPDATE $cat.db.u1 SET v = v + 1, s = 'upd' WHERE id < 10")
    val m = ManifestTable.readManifest(dir).get
    // zone maps keep 3 of 4 range-disjoint files byte-untouched
    val beforeNames = filesBefore.map(_.name).toSet
    val kept = m.files.map(_.name).count(beforeNames.contains)
    assert(kept == 3, s"expected 3 untouched files, got $kept of " +
      s"${m.files.size}")
    val rows = spark.sql(
      s"SELECT id, v, s FROM $cat.db.u1 ORDER BY id").collect()
    assert(rows.length == 100)
    assert(rows.take(10).forall(r =>
      r.getLong(1) == r.getLong(0) * 10 + 1 && r.getString(2) == "upd"))
    assert(rows.drop(10).forall(r =>
      r.getLong(1) == r.getLong(0) * 10 && r.getString(2) != "upd"))
  }

  test("SQL MERGE INTO: update + insert + delete clauses, exact rows") {
    mkTable("m1")
    (0 until 20).map(i => (i.toLong * 5, 777L, "src"))
      .toDF("id", "v", "s").createOrReplaceTempView("m1_updates")
    spark.sql(
      s"""MERGE INTO $cat.db.m1 t USING m1_updates u ON t.id = u.id
         |WHEN MATCHED AND t.id >= 90 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET t.v = u.v
         |WHEN NOT MATCHED THEN INSERT (id, v, s) VALUES (u.id, u.v, u.s)
         |""".stripMargin)
    val got = spark.sql(
      s"SELECT id, v, s FROM $cat.db.m1 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // expected: ids 0..99 except multiples of 5 >= 90 deleted (90, 95);
    // matched multiples of 5 < 90 updated to v=777; every source id
    // (0, 5, ..., 95) matches, so no insert fires here
    val expected = (0 until 100).flatMap { i =>
      if (i % 5 == 0 && i >= 90) None
      else if (i % 5 == 0) Some((i.toLong, 777L, s"r$i"))
      else Some((i.toLong, i.toLong * 10, s"r$i"))
    }
    assert(got.toSeq == expected)
  }

  test("MERGE INTO inserts source keys beyond the table's range") {
    mkTable("m2")
    (95 until 110).map(i => (i.toLong, -1L, "new"))
      .toDF("id", "v", "s").createOrReplaceTempView("m2_updates")
    spark.sql(
      s"""MERGE INTO $cat.db.m2 t USING m2_updates u ON t.id = u.id
         |WHEN MATCHED THEN UPDATE SET t.v = u.v, t.s = u.s
         |WHEN NOT MATCHED THEN INSERT *
         |""".stripMargin)
    val got = spark.sql(
      s"SELECT count(*), sum(CASE WHEN s = 'new' THEN 1 ELSE 0 END) " +
        s"FROM $cat.db.m2 WHERE v = -1").collect().head
    assert(got.getLong(0) == 15 && got.getLong(1) == 15)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.m2")
      .as[Long].head() == 110)
  }

  test("runtime group filtering localizes a MERGE to the touched files") {
    val dir = mkTable("gf1")
    ManifestTable.compact(spark, dir, 4, clusterBy = Seq("id"))
    val before = ManifestTable.readManifest(dir).get.files
      .map(_.name).toSet
    assert(before.size == 4)
    // source keys confined to ONE file's range: static pushdown sees no
    // literals (the condition is a join), so only Spark's runtime group
    // filtering + the scan's zone maps can localize the rewrite — this
    // is the mechanism that keeps a sparse MERGE on a 100 TB clustered
    // table at O(touched files)
    (5 until 10).map(i => (i.toLong, -7L, "gf"))
      .toDF("id", "v", "s").createOrReplaceTempView("gf1_updates")
    spark.sql(
      s"""MERGE INTO $cat.db.gf1 t USING gf1_updates u ON t.id = u.id
         |WHEN MATCHED THEN UPDATE SET t.v = u.v, t.s = u.s
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = ManifestTable.readManifest(dir).get.files.map(_.name)
    val untouched = after.count(before.contains)
    assert(untouched == 3,
      s"a 5-key MERGE into one file's range must leave the other 3 " +
        s"range-disjoint files byte-untouched, got $untouched of " +
        s"${after.size}")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.gf1 WHERE v = -7")
      .as[Long].head() == 5)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.gf1")
      .as[Long].head() == 100)
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: update and delete legs") {
    mkTable("m3")
    (50 until 60).map(i => (i.toLong, 1L, "src"))
      .toDF("id", "v", "s").createOrReplaceTempView("m3_updates")
    spark.sql(
      s"""MERGE INTO $cat.db.m3 t USING m3_updates u ON t.id = u.id
         |WHEN MATCHED THEN UPDATE SET t.v = u.v
         |WHEN NOT MATCHED BY SOURCE AND t.id >= 95 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE AND t.id < 5 THEN
         |  UPDATE SET t.s = 'untouched-by-source'
         |""".stripMargin)
    val got = spark.sql(
      s"SELECT id, v, s FROM $cat.db.m3 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val expected = (0 until 95).map { i =>
      if (i >= 50 && i < 60) (i.toLong, 1L, s"r$i")
      else if (i < 5) (i.toLong, i * 10L, "untouched-by-source")
      else (i.toLong, i * 10L, s"r$i")
    }
    assert(got.toSeq == expected)
  }

  test("non-translatable DELETE falls back to the row-level rewrite") {
    val dir = mkTable("d1")
    val v0 = ManifestTable.readManifest(dir).get.version
    // LIKE doesn't translate to a metadata delete — needs the rewrite
    spark.sql(s"DELETE FROM $cat.db.d1 WHERE s LIKE '%7'")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.d1")
      .as[Long].head() == 90)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.db.d1 WHERE s LIKE '%7'")
      .as[Long].head() == 0)
    // it was a versioned commit: time travel still sees the old rows
    assert(spark.read.format(Fmt).option("path", dir)
      .option("versionAsOf", v0).load().count() == 100)
  }

  test("UPDATE on a partitioned table preserves the #part: layout") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.pu (id BIGINT, g INT, v BIGINT) " +
      "PARTITIONED BY (g)")
    (0 until 120).map(i => (i.toLong, i % 4, 0L)).toDF("id", "g", "v")
      .createOrReplaceTempView("pu_src")
    spark.sql(s"INSERT INTO $cat.db.pu SELECT * FROM pu_src")
    spark.sql(s"UPDATE $cat.db.pu SET v = 1 WHERE g = 2")
    val m = ManifestTable.readManifest(s"$wh/db/pu").get
    assert(ManifestTable.partitionColumnsOf(m) == Seq("g"),
      "rewritten files must keep the partition layout report alive")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.pu WHERE v = 1")
      .as[Long].head() == 30)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.pu WHERE v = 0")
      .as[Long].head() == 90)
  }

  test("SQL UPDATE preserves the table's bloom configuration") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.bl (id BIGINT, s STRING)")
    // blooms ride the write options — land them through the path write
    // into the SAME table directory the catalog resolves
    (0 until 100).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .repartition(4, col("id"))
      .write.format(Fmt).option("path", s"$wh/db/bl")
      .option("bloomColumns", "id").mode("append").save()
    assert(ManifestTable.readManifest(s"$wh/db/bl").get.files
      .forall(_.stats.blooms.nonEmpty))
    spark.sql(s"UPDATE $cat.db.bl SET s = 'upd' WHERE id % 10 = 3")
    val m = ManifestTable.readManifest(s"$wh/db/bl").get
    assert(m.files.forall(_.stats.blooms.nonEmpty),
      "rewritten files must carry the table's blooms")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.bl WHERE s = 'upd'")
      .as[Long].head() == 10)
  }

  test("_file metadata column reads the row's data file path") {
    val dir = mkTable("mf1")
    ManifestTable.compact(spark, dir, 4, clusterBy = Seq("id"))
    val byFile = spark.sql(
      s"SELECT _file, count(*) AS n FROM $cat.db.mf1 GROUP BY _file")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(byFile.length == 4)
    assert(byFile.map(_._2).sum == 100)
    val listed = ManifestTable.readManifest(dir).get.files.map(_.name).toSet
    assert(byFile.forall { case (f, _) =>
      listed.contains(f.substring(f.lastIndexOf('/') + 1)) })
    // metadata stays out of SELECT * (Spark's metadata-column contract)
    assert(!spark.sql(s"SELECT * FROM $cat.db.mf1").columns
      .contains("_file"))
  }

  test("a concurrent commit between scan and replace is a typed conflict") {
    val dir = mkTable("cc1")
    val v0 = ManifestTable.readManifest(dir).get.version
    // interleave a FOREIGN append right before the replace's CAS via the
    // shared commit seam — snapshot isolation must refuse, not merge
    // over the stale affected-set reasoning
    var fired = false
    graft.sources.CowOps.beforeCommitHook = () => {
      if (!fired) {
        fired = true
        (1000 until 1005).map(i => (i.toLong, 0L, s"x$i"))
          .toDF("id", "v", "s")
          .write.format(Fmt).option("path", dir).mode("append").save()
      }
    }
    try {
      val e = intercept[Exception] {
        spark.sql(s"UPDATE $cat.db.cc1 SET v = -1 WHERE id < 10")
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("concurrent commit")),
        s"expected a typed concurrent-commit conflict, got $e")
    } finally graft.sources.CowOps.beforeCommitHook = () => ()
    // the foreign append won; the update did not apply
    val m = ManifestTable.readManifest(dir).get
    assert(m.version == v0 + 1)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.cc1 WHERE v = -1")
      .as[Long].head() == 0)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.cc1")
      .as[Long].head() == 105)
  }

  private def mkMorTable(name: String, n: Int = 100): String = {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"""CREATE TABLE $cat.db.$name (id BIGINT, v BIGINT, s STRING)
                 |TBLPROPERTIES('write.delete.mode'='merge-on-read',
                 |  'write.update.mode'='merge-on-read',
                 |  'write.merge.mode'='merge-on-read')""".stripMargin)
    (0 until n).map(i => (i.toLong, i.toLong * 10, s"r$i"))
      .toDF("id", "v", "s")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .createOrReplaceTempView(s"${name}_src")
    spark.sql(s"INSERT INTO $cat.db.$name SELECT * FROM ${name}_src")
    s"$wh/db/$name"
  }

  test("TBLPROPERTIES select the strategy: COW plans ReplaceData, MOR " +
      "plans WriteDelta") {
    val cowDir = mkTable("sel1")
    val morDir = mkMorTable("sel2")
    def planOf(table: String): String = spark.sessionState
      .executePlan(spark.sessionState.sqlParser.parsePlan(
        s"DELETE FROM $cat.db.$table WHERE id % 7 = 1"))
      .executedPlan.toString
    assert(planOf("sel1").contains("ReplaceData"), planOf("sel1"))
    assert(planOf("sel2").contains("WriteDelta"), planOf("sel2"))
    assert(cowDir != morDir)
  }

  test("MOR DELETE: zero files rewritten, position vectors attached, " +
      "exact rows") {
    val dir = mkMorTable("mor1")
    val before = ManifestTable.readManifest(dir).get
    spark.sql(s"DELETE FROM $cat.db.mor1 WHERE id % 7 = 0")
    val after = ManifestTable.readManifest(dir).get
    // filesRewritten == 0: the data file name set is byte-identical
    assert(after.files.map(_.name).toSet == before.files.map(_.name).toSet)
    assert(after.files.count(_.stats.dv.isDefined) > 0)
    val rows = spark.sql(s"SELECT id FROM $cat.db.mor1 ORDER BY id")
      .as[Long].collect()
    assert(rows.toSeq == (0 until 100).map(_.toLong).filter(_ % 7 != 0))
    // time travel still reads the pre-delete snapshot
    assert(spark.sql(
        s"SELECT count(*) FROM $cat.db.mor1 VERSION AS OF ${before.version}")
      .as[Long].head() == 100)
  }

  test("MOR UPDATE and MERGE: delete+insert split, old files untouched") {
    val dir = mkMorTable("mor2")
    val base = ManifestTable.readManifest(dir).get.files.map(_.name).toSet
    spark.sql(s"UPDATE $cat.db.mor2 SET v = -1, s = 'u' WHERE id < 10")
    val m1 = ManifestTable.readManifest(dir).get
    assert(base.subsetOf(m1.files.map(_.name).toSet),
      "MOR UPDATE must not rewrite an existing file")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.mor2 WHERE v = -1")
      .as[Long].head() == 10)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.mor2")
      .as[Long].head() == 100)
    Seq((5L, -2L, "mrg"), (200L, -2L, "mrg")).toDF("id", "v", "s")
      .createOrReplaceTempView("mor2_upd")
    spark.sql(s"""MERGE INTO $cat.db.mor2 t USING mor2_upd u ON t.id = u.id
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val m2 = ManifestTable.readManifest(dir).get
    assert(base.subsetOf(m2.files.map(_.name).toSet))
    val got = spark.sql(
        s"SELECT id, v, s FROM $cat.db.mor2 WHERE v = -2 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(got == Seq((5L, "mrg"), (200L, "mrg")))
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.mor2")
      .as[Long].head() == 101)
  }

  test("stacked MOR deletes keep ONE position sidecar per file; " +
      "compaction materializes the merge away") {
    val dir = mkMorTable("mor3")
    spark.sql(s"DELETE FROM $cat.db.mor3 WHERE id % 7 = 0")
    spark.sql(s"DELETE FROM $cat.db.mor3 WHERE id % 11 = 0")
    val m = ManifestTable.readManifest(dir).get
    val expected = (0 until 100).count(i => i % 7 != 0 && i % 11 != 0)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.mor3")
      .as[Long].head() == expected)
    // one sidecar per entry (unioned successor, never a chain), and the
    // sidecar is a SHARED union — count reflects both deletes
    val dvps = m.files.flatMap(_.stats.dv)
    assert(dvps.nonEmpty)
    assert(m.files.forall(f => f.stats.dv.size <= 1))
    ManifestTable.compact(spark, dir, 2, clusterBy = Seq("id"))
    val mc = ManifestTable.readManifest(dir).get
    assert(mc.files.forall(f => !f.stats.dv.isDefined),
      "compaction must materialize position deletes away")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.mor3")
      .as[Long].head() == expected)
  }

  test("_pos metadata column: stable physical ordinals, disjoint from " +
      "_file; reserved as a data column name") {
    val dir = mkTable("pos1")
    val posByFile = spark.sql(
        s"SELECT _file, _pos, id FROM $cat.db.pos1")
      .collect().groupBy(_.getString(0))
    posByFile.foreach { case (_, rows) =>
      val ps = rows.map(_.getLong(1)).sorted.toSeq
      assert(ps == (0L until ps.length), s"ordinals must be dense: $ps")
    }
    assert(dir.nonEmpty)
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.db.posbad (id BIGINT, _pos BIGINT)")
    }
    assert(e.getMessage.contains("reserved"), e.getMessage)
  }

  test("adversarial sparsity: a 5-key MERGE into a 64-file clustered " +
      "table rewrites exactly 1 file (COW) / 0 files (MOR)") {
    // the number the 100 TB sparse-MERGE claim rides on: runtime group
    // filtering + zone maps must localize the rewrite to the one file
    // whose key range the source hits, independent of table width
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    def build(name: String, props: String): String = {
      spark.sql(s"CREATE TABLE $cat.db.$name (id BIGINT, v BIGINT)$props")
      (0 until 6400).map(i => (i.toLong, i.toLong)).toDF("id", "v")
        .repartitionByRange(64, col("id")).sortWithinPartitions("id")
        .createOrReplaceTempView(s"${name}_src")
      spark.sql(s"INSERT INTO $cat.db.$name SELECT * FROM ${name}_src")
      s"$wh/db/$name"
    }
    Seq((100L, -1L), (101L, -1L), (102L, -1L), (103L, -1L), (104L, -1L))
      .toDF("id", "v").createOrReplaceTempView("sparse_upd")
    def merge(name: String): Unit =
      spark.sql(s"""MERGE INTO $cat.db.$name t USING sparse_upd u
                   |ON t.id = u.id
                   |WHEN MATCHED THEN UPDATE SET *
                   |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // COW: exactly one of the 64 clustered files rewrites
    val cowDir = build("sparse1", "")
    val cowBefore = ManifestTable.readManifest(cowDir).get
      .files.map(_.name).toSet
    assert(cowBefore.size == 64)
    merge("sparse1")
    val cowAfter = ManifestTable.readManifest(cowDir).get
      .files.map(_.name).toSet
    assert(cowBefore.diff(cowAfter).size == 1,
      s"COW sparse MERGE must rewrite exactly 1 of 64 files, rewrote " +
        s"${cowBefore.diff(cowAfter).size}")
    // MOR: zero rewrites, one file gains a position vector
    val morDir = build("sparse2",
      " TBLPROPERTIES('write.merge.mode'='merge-on-read')")
    val morBefore = ManifestTable.readManifest(morDir).get
      .files.map(_.name).toSet
    merge("sparse2")
    val morM = ManifestTable.readManifest(morDir).get
    assert(morBefore.subsetOf(morM.files.map(_.name).toSet))
    assert(morM.files.count(_.stats.dv.isDefined) == 1,
      "only the one touched file should carry a position vector")
    Seq("sparse1", "sparse2").foreach { n =>
      val got = spark.sql(
          s"SELECT count(*) FROM $cat.db.$n WHERE v = -1")
        .as[Long].head()
      assert(got == 5, s"$n: $got")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.$n")
        .as[Long].head() == 6400)
    }
  }

  test("a concurrent commit between a MOR delta scan and its commit is " +
      "the same typed conflict") {
    val dir = mkMorTable("ccm1")
    val v0 = ManifestTable.readManifest(dir).get.version
    var fired = false
    graft.sources.CowOps.beforeCommitHook = () => {
      if (!fired) {
        fired = true
        (1000 until 1005).map(i => (i.toLong, 0L, s"x$i"))
          .toDF("id", "v", "s")
          .write.format(Fmt).option("path", dir).mode("append").save()
      }
    }
    try {
      val e = intercept[Exception] {
        spark.sql(s"DELETE FROM $cat.db.ccm1 WHERE id % 7 = 0")
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("concurrent commit")),
        s"expected a typed concurrent-commit conflict, got $e")
    } finally graft.sources.CowOps.beforeCommitHook = () => ()
    // the foreign append won; the delete applied nothing — no rows
    // vanished and no position vector landed
    val m = ManifestTable.readManifest(dir).get
    assert(m.version == v0 + 1)
    assert(m.files.forall(f => !f.stats.dv.isDefined),
      "a losing delta commit must leave no position vectors behind")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.ccm1")
      .as[Long].head() == 105)
  }

  test("the change feed surfaces a SQL MOR DELETE's rows as deletes " +
      "(position-vector stats participate in entry identity)") {
    val dir = mkMorTable("morcdc")
    val v0 = ManifestTable.readManifest(dir).get.version
    spark.sql(s"DELETE FROM $cat.db.morcdc WHERE id % 9 = 0")
    val v1 = ManifestTable.readManifest(dir).get.version
    val feed = ManifestTable.changeFeed(spark, dir, v0, v1)
      .select("_change_type", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val expected = (0 until 100).filter(_ % 9 == 0)
      .map(i => ("delete", i.toLong)).sorted
    assert(feed == expected,
      s"feed must be exactly the position-deleted rows, got $feed")
  }

  test("a large MOR DELETE's commit messages carry sidecar REFS, not " +
      "positions: driver payload O(affected files), counts exact") {
    // the 100 TB pin: executors author the #dvp sidecars; the driver's
    // commit sees (file, name, count) triples only. A 1%-of-100TB
    // DELETE ships file names through the driver, never ordinals.
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"""CREATE TABLE $cat.db.big (id BIGINT, v BIGINT)
                 |TBLPROPERTIES('write.delete.mode'='merge-on-read')
                 |""".stripMargin)
    val n = 40000
    (0 until n).map(i => (i.toLong, i.toLong)).toDF("id", "v")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .createOrReplaceTempView("big_src")
    spark.sql(s"INSERT INTO $cat.db.big SELECT * FROM big_src")
    val files = ManifestTable.readManifest(s"$wh/db/big").get.files
    assert(files.size == 4)
    spark.sql(s"DELETE FROM $cat.db.big WHERE id % 2 = 0")
    val refs = graft.sources.GTabDeltaBatchWrite.lastCommitDeleteRefs
    // payload: one ref per (file, task) pair — bounded by files x the
    // session's 4 shuffle partitions, NOT by the 20k deleted rows
    assert(refs.nonEmpty && refs.size <= 4)
    val pairs = refs.values.map(_.size).sum
    assert(pairs <= 4 * 4, s"ref pairs must be O(files x tasks), got $pairs")
    assert(refs.values.flatten.map(_._2).sum == n / 2,
      "ref cardinalities must account for every deleted row")
    // every ref is a NAME of a real sidecar holding the positions
    refs.foreach { case (_, rs) => rs.foreach { case (name, cnt) =>
      val arr = ManifestTable.readDv(
        graft.sources.FsMeta.hadoopConf(), s"$wh/db/big/data/$name")
      assert(arr.length == cnt)
    } }
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.big")
      .as[Long].head() == n / 2)
    assert(spark.sql(s"SELECT sum(id) FROM $cat.db.big")
      .as[Long].head() == (0L until n).filter(_ % 2 == 1).sum)
  }

  test("repeated MOR deletes CHAIN position sidecars up to the bound, " +
      "then fold to one; vacuum protects every chain member") {
    val dir = mkMorTable("chain1", n = 200)
    // single data file -> every delete chains onto the same entry
    ManifestTable.compact(spark, dir, 1, clusterBy = Seq("id"))
    val v0 = ManifestTable.readManifest(dir).get.version
    def chainOf(): Seq[String] = {
      val f = ManifestTable.readManifest(dir).get.files
        .filter(_.stats.dv.isDefined)
      if (f.isEmpty) Nil
      else f.head.stats.dv.get.names
    }
    val primes = Seq(3, 7, 11, 13, 17, 19)
    primes.zipWithIndex.foreach { case (p, i) =>
      spark.sql(s"DELETE FROM $cat.db.chain1 WHERE id % $p = 0")
      val chain = chainOf()
      assert(chain.size <= ManifestTable.DvPosChainMax,
        s"after delete ${i + 1} chain is ${chain.size} long")
      // every live chain member must be vacuum-protected and readable
      chain.foreach { nm =>
        assert(graft.sources.FsMeta.exists(s"$dir/data/$nm"))
      }
      val expect = (0 until 200).count(id =>
        primes.take(i + 1).forall(id % _ != 0))
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.chain1")
        .as[Long].head() == expect, s"after delete by %$p")
    }
    // six stacked deletes with a chain bound of 4 must have folded at
    // least once; the stat still reads as ONE #dvp entry whose count is
    // the union cardinality
    val m = ManifestTable.readManifest(dir).get
    val dv = m.files.flatMap(_.stats.dv)
    assert(dv.size == 1)
    val expectDeleted = (0 until 200).count(id => primes.exists(id % _ == 0))
    assert(dv.head.count == expectDeleted)
    // a pre-delete snapshot still reads every chain member it references
    assert(spark.sql(
        s"SELECT count(*) FROM $cat.db.chain1 VERSION AS OF $v0")
      .as[Long].head() == 200)
  }

  test("CowOps.deleteMor and a MOR SQL DELETE give the same rows and " +
      "#dvp counts") {
    val key = mkMorTable("dk1"); val sql = mkMorTable("ds1")
    graft.sources.CowOps.deleteMor(spark, key,
      (0 until 100).filter(_ % 7 == 0).map(_.toLong).toDF("id"), "id")
    spark.sql(s"DELETE FROM $cat.db.ds1 WHERE id % 7 = 0")
    def rows(t: String) =
      spark.sql(s"SELECT * FROM $cat.db.$t ORDER BY id").collect().toSeq
    assert(rows("dk1") == rows("ds1") && rows("dk1").size == 85)
    // the same layout on both sides, so files pair up by zone map
    def counts(dir: String) = ManifestTable.readManifest(dir).get.files
      .map(f => f.stats.zones("id") -> f.stats.dv.map(_.count)).toMap
    assert(counts(key) == counts(sql) &&
      counts(key).values.flatten.sum == 15, counts(key))
  }
}
