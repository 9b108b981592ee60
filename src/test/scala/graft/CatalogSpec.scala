package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{GTabDelete, ManifestTable}

/** SQL catalog surface (GraftCatalog): DDL/DML over manifest tables —
  * CREATE/INSERT/SELECT, PARTITIONED BY driving the auto-partitioned
  * write path (and the storage-partitioned join through pure SQL),
  * VERSION AS OF as number (time travel) or string (branch read),
  * metadata-first DELETE WHERE, ALTER TABLE ADD COLUMN evolution,
  * RENAME/DROP, namespaces.
  */
class CatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val wh = Files.createTempDirectory("graft_cat").toString
  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.gcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    "gcat"
  }

  private def noBroadcast[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("CREATE / INSERT / SELECT round-trip through pure SQL") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t1 (id BIGINT, s STRING)")
    (0 until 100).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .createOrReplaceTempView("t1_src")
    spark.sql(s"INSERT INTO $cat.db.t1 SELECT * FROM t1_src")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t1")
      .as[Long].head() == 100)
    assert(spark.sql(s"SELECT s FROM $cat.db.t1 WHERE id = 42")
      .as[String].head() == "r42")
    // SHOW TABLES sees it
    assert(spark.sql(s"SHOW TABLES IN $cat.db").collect()
      .map(_.getString(1)).contains("t1"))
  }

  test("PARTITIONED BY drives auto-partitioned inserts and a SQL-only SPJ") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(
      s"CREATE TABLE $cat.db.pa (id BIGINT, g INT) PARTITIONED BY (g)")
    spark.sql(
      s"CREATE TABLE $cat.db.pb (bid BIGINT, g INT) PARTITIONED BY (g)")
    spark.range(300).select(col("id"), (col("id") % 6).cast("int").as("g"))
      .createOrReplaceTempView("pa_src")
    spark.range(120).select(col("id").as("bid"),
      (col("id") % 6).cast("int").as("g")).createOrReplaceTempView("pb_src")
    spark.sql(s"INSERT INTO $cat.db.pa SELECT * FROM pa_src")
    spark.sql(s"INSERT INTO $cat.db.pb SELECT * FROM pb_src")
    // every committed file is single-valued on g
    val m = ManifestTable.readManifest(s"$wh/db/pa").get
    assert(m.files.nonEmpty &&
      m.files.forall(_.stats.parts.contains("g")))
    noBroadcast {
      val j = spark.sql(
        s"""SELECT a.g, count(*) AS n FROM $cat.db.pa a
           |JOIN $cat.db.pb b ON a.g = b.g GROUP BY a.g""".stripMargin)
      assert(j.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
        (0 until 6).map(g => g -> 1000L).toMap)
      assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
        "the SQL-only storage-partitioned join must plan exchange-free")
    }
  }

  test("VERSION AS OF: number = snapshot, string = branch") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.tt (id BIGINT)")
    spark.range(10).createOrReplaceTempView("tt_src")
    spark.sql(s"INSERT INTO $cat.db.tt SELECT * FROM tt_src")
    val v = ManifestTable.readManifest(s"$wh/db/tt").get.version
    spark.sql(s"INSERT INTO $cat.db.tt SELECT * FROM tt_src")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.tt")
      .as[Long].head() == 20)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.tt VERSION AS OF $v")
      .as[Long].head() == 10)
    // branch read by name
    ManifestTable.createBranch(s"$wh/db/tt", "exp")
    spark.range(5).select(col("id") + 1000)
      .write.format("graft.sources.ManifestTable")
      .option("path", s"$wh/db/tt").option("branch", "exp")
      .mode("append").save()
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.db.tt VERSION AS OF 'exp'")
      .as[Long].head() == 25)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.tt")
      .as[Long].head() == 20)
  }

  test("DELETE WHERE on the partition column is metadata-only") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(
      s"CREATE TABLE $cat.db.dp (id BIGINT, seg STRING) PARTITIONED BY (seg)")
    (0 until 200).map(i => (i.toLong, s"seg-${i % 4}")).toDF("id", "seg")
      .createOrReplaceTempView("dp_src")
    spark.sql(s"INSERT INTO $cat.db.dp SELECT * FROM dp_src")
    val before = ManifestTable.readManifest(s"$wh/db/dp").get
      .files.map(_.name).toSet
    spark.sql(s"DELETE FROM $cat.db.dp WHERE seg = 'seg-2'")
    val st = GTabDelete.lastStats
    assert(st.filesDropped > 0 && st.filesRewritten == 0,
      s"partition-column delete must drop whole files: $st")
    val after = ManifestTable.readManifest(s"$wh/db/dp").get
      .files.map(_.name).toSet
    assert(after.subsetOf(before), "no new data files on the drop path")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.dp")
      .as[Long].head() == 150)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.db.dp WHERE seg = 'seg-2'")
      .as[Long].head() == 0)
  }

  test("DELETE WHERE boundary rewrite keeps NULL-condition rows") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.db1 (id BIGINT, x BIGINT)")
    (0 until 100).map(i =>
      (i.toLong, if (i % 10 == 0) null else java.lang.Long.valueOf(i.toLong)))
      .toDF("id", "x").createOrReplaceTempView("db1_src")
    spark.sql(s"INSERT INTO $cat.db.db1 SELECT * FROM db1_src")
    spark.sql(s"DELETE FROM $cat.db.db1 WHERE x < 50")
    // x-null rows (every 10th) must SURVIVE: null < 50 is not TRUE
    val got = spark.sql(s"SELECT id FROM $cat.db.db1 ORDER BY id")
      .as[Long].collect().toSeq
    val exp = (0 until 100).map(_.toLong)
      .filter(i => i % 10 == 0 || i >= 50)
    assert(got == exp)
  }

  test("zone maps skip provably-unaffected files in DELETE") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.dz (id BIGINT, s STRING)")
    // range-clustered insert → disjoint id ranges per file
    (0 until 1000).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .createOrReplaceTempView("dz_src")
    spark.sql(s"INSERT INTO $cat.db.dz SELECT * FROM dz_src")
    spark.sql(s"DELETE FROM $cat.db.dz WHERE id < 100")
    val st = GTabDelete.lastStats
    assert(st.filesUntouched > 0,
      s"range-clustered delete must skip out-of-range files: $st")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.dz")
      .as[Long].head() == 900)
  }

  test("ALTER TABLE ADD COLUMN evolves; old rows read null") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.ev (id BIGINT)")
    spark.range(5).createOrReplaceTempView("ev_src")
    spark.sql(s"INSERT INTO $cat.db.ev SELECT * FROM ev_src")
    spark.sql(s"ALTER TABLE $cat.db.ev ADD COLUMN score DOUBLE")
    spark.sql(s"INSERT INTO $cat.db.ev VALUES (100, 0.5)")
    val rows = spark.sql(
      s"SELECT id, score FROM $cat.db.ev ORDER BY id").collect()
    assert(rows.length == 6)
    assert(rows.take(5).forall(_.isNullAt(1)))
    assert(rows.last.getDouble(1) == 0.5)
    // RENAME is supported since round 14 (AlterTableSpec owns its
    // coverage); a nested ADD stays rejected
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.ev ADD COLUMN nest.x INT")
    }
    assert(e.getMessage != null)
  }

  test("CALL procedures: compact, history, branch lifecycle, vacuum") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.pr (id BIGINT)")
    spark.range(40).createOrReplaceTempView("pr_src")
    (0 until 3).foreach(_ =>
      spark.sql(s"INSERT INTO $cat.db.pr SELECT * FROM pr_src"))
    // history: one row per retained version (create + 3 inserts)
    val hist = spark.sql(s"CALL $cat.system.history(table => 'db.pr')")
      .collect()
    assert(hist.length == 4)
    assert(hist.map(_.getLong(2)).max == 120L)
    // compact 3+ files -> 1
    val c = spark.sql(
      s"CALL $cat.system.compact(table => 'db.pr', target_files => 1)")
      .head()
    assert(c.getInt(0) >= 3 && c.getInt(1) == 1)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.pr")
      .as[Long].head() == 120)
    // branch lifecycle through CALL
    val forked = spark.sql(
      s"CALL $cat.system.create_branch(table => 'db.pr', name => 'b1')")
      .head().getLong(0)
    assert(forked == ManifestTable.readManifest(s"$wh/db/pr").get.version)
    spark.range(5).select(col("id") + 500)
      .write.format("graft.sources.ManifestTable")
      .option("path", s"$wh/db/pr").option("branch", "b1")
      .mode("append").save()
    spark.sql(
      s"CALL $cat.system.fast_forward(table => 'db.pr', name => 'b1')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.pr")
      .as[Long].head() == 125)
    spark.sql(
      s"CALL $cat.system.drop_branch(table => 'db.pr', name => 'b1')")
    assert(ManifestTable.branches(s"$wh/db/pr").isEmpty)
    // expire + vacuum reclaims the pre-compaction fragments
    spark.sql(
      s"CALL $cat.system.expire_snapshots(table => 'db.pr', keep_last => 1)")
    val reclaimed = spark.sql(
      s"CALL $cat.system.vacuum(table => 'db.pr', grace_ms => 0)")
      .head().getInt(0)
    assert(reclaimed > 0, "vacuum after expiry must reclaim fragments")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.pr")
      .as[Long].head() == 125)
  }

  test("INSERT OVERWRITE and TRUNCATE ride the connector's truncate path") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.ov (id BIGINT)")
    spark.range(10).createOrReplaceTempView("ov_src")
    spark.sql(s"INSERT INTO $cat.db.ov SELECT * FROM ov_src")
    spark.sql(
      s"INSERT OVERWRITE $cat.db.ov SELECT id + 100 FROM ov_src")
    assert(spark.sql(s"SELECT min(id), count(*) FROM $cat.db.ov")
      .as[(Long, Long)].head() == ((100L, 10L)))
    spark.sql(s"TRUNCATE TABLE $cat.db.ov")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.ov")
      .as[Long].head() == 0)
  }

  test("streaming read through the catalog: readStream.table tails commits") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.st (id BIGINT)")
    spark.range(10).createOrReplaceTempView("st_src")
    spark.sql(s"INSERT INTO $cat.db.st SELECT * FROM st_src")
    val q = spark.readStream.table(s"$cat.db.st")
      .writeStream.format("memory").queryName("cat_stream")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_cat_cp").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("cat_stream").count() == 10)
      spark.sql(s"INSERT INTO $cat.db.st SELECT id + 100 FROM st_src")
      q.processAllAvailable()
      assert(spark.table("cat_stream").count() == 20)
    } finally q.stop()
  }

  test("writeStream.toTable: exactly-once into a partitioned catalog " +
      "table across a checkpoint replay") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.stw (id BIGINT, g INT) " +
      "PARTITIONED BY (g)")
    val src = (0 until 40).map(i => (i.toLong, i % 4)).toDF("id", "g")
    val staged = Files.createTempDirectory("graft_stw_src").toString
    src.repartition(4).write.mode("overwrite").parquet(staged)
    val cp = Files.createTempDirectory("graft_stw_cp").toString
    def run(): Unit = {
      val q = spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
        .writeStream.option("checkpointLocation", cp)
        .toTable(s"$cat.db.stw")
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.stw")
      .as[Long].head() == 40)
    // force a REPLAY: drop the last batch's commit marker — on restart
    // Spark re-executes that batch, and the sink's epoch-in-manifest
    // dedup must drop the rerun's files instead of double-appending
    val commits = new java.io.File(s"$cp/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    val last = commits.last
    assert(last.delete())
    // local ChecksumFs keeps a .<name>.crc sidecar; the re-run's
    // commit rename collides with it unless it goes too
    val crc = new java.io.File(last.getParentFile, s".${last.getName}.crc")
    if (crc.exists()) crc.delete()
    run()
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.stw")
      .as[Long].head() == 40,
      "a replayed epoch must not double-append")
    // the partitioned layout survived the streaming writes
    val m = ManifestTable.readManifest(s"$wh/db/stw").get
    assert(ManifestTable.partitionColumnsOf(m) == Seq("g"))
    assert(m.epoch >= 0, "streaming commits must record their epoch")
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.db.stw WHERE g = 2")
      .as[Long].head() == 10)
  }

  test("TIMESTAMP AS OF resolves to the latest commit at or before t") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.tts (id BIGINT)")
    spark.range(10).createOrReplaceTempView("tts_src")
    spark.sql(s"INSERT INTO $cat.db.tts SELECT * FROM tts_src")
    Thread.sleep(15)
    val mid = System.currentTimeMillis()
    Thread.sleep(15)
    spark.sql(s"INSERT INTO $cat.db.tts SELECT id + 100 FROM tts_src")
    def fmt(ms: Long): String = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ms))
    // between the two commits: only the first insert is visible
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.tts " +
      s"TIMESTAMP AS OF '${fmt(mid)}'").as[Long].head() == 10)
    // now: everything
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.tts " +
      s"TIMESTAMP AS OF '${fmt(System.currentTimeMillis() + 1000)}'")
      .as[Long].head() == 20)
    // before the table existed: typed error naming the bound
    val e = intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM $cat.db.tts " +
        s"TIMESTAMP AS OF '2000-01-01 00:00:00'").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("earliest stamped commit")))
    // the pinned read refuses writes like any time-travel reference
    // and history surfaces the commit timestamps
    val hist = spark.sql(s"CALL $cat.system.history(table => 'db.tts')")
      .collect()
    assert(hist.forall(_.getLong(4) > 0),
      "every commit must carry its wall-clock stamp")
    assert(hist.map(_.getLong(4)).sorted.toSeq ==
      hist.map(_.getLong(4)).toSeq)
  }

  test("NULL procedure arguments are typed errors, numerics included") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.db.nargs (id BIGINT)")
    // a NULL numeric would silently unbox to 0 — vacuum with a zero
    // grace window could reclaim another writer's staged files
    val e = intercept[Exception] { spark.sql(
      s"CALL $cat.system.vacuum(table => 'db.nargs', grace_ms => NULL)")
      .collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("'grace_ms' is required")))
    val e2 = intercept[Exception] { spark.sql(
      s"CALL $cat.system.compact(table => NULL, target_files => 1)")
      .collect() }
    assert(msgs(e2).exists(_.contains("'table' is required")))
  }

  test("CREATE TABLE rejects unsupported partition column types upfront") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    // the write builder would reject the first INSERT anyway, but by
    // then the table exists and every insert fails — reject at CREATE
    val e = intercept[Exception] { spark.sql(
      s"""CREATE TABLE $cat.db.dpart (id BIGINT, v DOUBLE)
         |PARTITIONED BY (v)""".stripMargin) }
    assert(e.getMessage.contains("partition columns support"))
    assert(!spark.catalog.tableExists(s"$cat.db.dpart"),
      "a rejected CREATE must leave no table behind")
  }

  test("RENAME and DROP; pinned references refuse writes") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.rn (id BIGINT)")
    spark.range(3).createOrReplaceTempView("rn_src")
    spark.sql(s"INSERT INTO $cat.db.rn SELECT * FROM rn_src")
    spark.sql(s"ALTER TABLE $cat.db.rn RENAME TO db.rn2")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.rn2")
      .as[Long].head() == 3)
    assert(!spark.catalog.tableExists(s"$cat.db.rn"))
    spark.sql(s"DROP TABLE $cat.db.rn2")
    assert(!spark.catalog.tableExists(s"$cat.db.rn2"))
  }

  test("reserved names: '.stage-' identifiers and '_file' columns") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    // a '.stage-' table would exist (loadTable resolves) yet never list
    val e = intercept[Exception](
      spark.sql(s"CREATE TABLE $cat.db.`x.stage-y` (id BIGINT)"))
    assert(e.getMessage.contains(".stage-"), e.getMessage)
    // rename into the reserved infix is rejected too
    spark.sql(s"CREATE TABLE $cat.db.rsv_src (id BIGINT)")
    val e2 = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.db.rsv_src RENAME TO db.`a.stage-b`"))
    assert(e2.getMessage.contains(".stage-"), e2.getMessage)
    // '_file' is the reserved metadata-column name: a data column of the
    // name would shadow the advertised metadata column
    val e3 = intercept[Exception](
      spark.sql(s"CREATE TABLE $cat.db.rsv2 (id BIGINT, _file STRING)"))
    assert(e3.getMessage.contains("reserved"), e3.getMessage)
    val e4 = intercept[Exception] {
      spark.range(2).selectExpr("id", "'x' AS _file").write
        .format("graft.sources.ManifestTable")
        .option("path", s"$wh/raw_rsv").mode("append").save()
    }
    assert(e4.getMessage.contains("reserved"), e4.getMessage)
  }

  test("a stale declared partition spec degrades instead of failing " +
      "INSERT") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.stale (id BIGINT, g INT) " +
      "PARTITIONED BY (g)")
    spark.sql(s"INSERT INTO $cat.db.stale VALUES (1, 1)")
    // simulate the crash window between a partition-column RENAME's
    // schema commit and its _TBLMETA rewrite: the declared spec names a
    // column the schema no longer carries
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$wh/db/stale/_TBLMETA"), "part=gone\n")
    spark.sql(s"INSERT INTO $cat.db.stale VALUES (2, 2)") // must not throw
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.stale")
      .as[Long].head() == 2)
  }

  test("TBLPROPERTIES drive skipping structures from pure SQL") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.props (id BIGINT, s STRING) " +
      "TBLPROPERTIES('bloomColumns'='id')")
    (0 until 400).map(i => (i.toLong, s"v$i")).toDF("id", "s")
      .createOrReplaceTempView("props_src")
    // hash-scattered on purpose: zone maps prune nothing, blooms must
    spark.sql(s"INSERT INTO $cat.db.props " +
      "SELECT /*+ REPARTITION(4, id) */ * FROM props_src")
    val dirT = s"$wh/db/props"
    val m = ManifestTable.readManifest(dirT).get
    assert(m.files.nonEmpty && m.files.forall(_.stats.blooms.contains("id")),
      "every SQL-inserted file must carry the declared bloom")
    val q = spark.sql(s"SELECT * FROM $cat.db.props WHERE id = 7")
    assert(q.count() == 1)
    val desc = q.queryExecution.executedPlan.toString
    assert(desc.contains(s"files=1/${m.files.size}"),
      s"bloom point lookup must prune to 1 file: $desc")
    // SHOW TBLPROPERTIES reads the persisted sidecar back
    val shown = spark.sql(s"SHOW TBLPROPERTIES $cat.db.props").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("bloomColumns").contains("id"), shown.toString)
    // ALTER ... SET TBLPROPERTIES adopts on the NEXT write
    spark.sql(
      s"ALTER TABLE $cat.db.props SET TBLPROPERTIES('ndvColumns'='id')")
    spark.sql(s"INSERT INTO $cat.db.props VALUES (1000, 'x')")
    val m2 = ManifestTable.readManifest(dirT).get
    assert(m2.files.exists(_.stats.ndvs.contains("id")),
      "the post-SET insert must carry the NDV sketch")
    // UNSET stops later writes from carrying it
    spark.sql(s"ALTER TABLE $cat.db.props UNSET TBLPROPERTIES('ndvColumns')")
    spark.sql(s"INSERT INTO $cat.db.props VALUES (1001, 'y')")
    val m3 = ManifestTable.readManifest(dirT).get
    val newest = m3.files.map(_.name).toSet -- m2.files.map(_.name).toSet
    assert(newest.nonEmpty &&
      m3.files.filter(f => newest.contains(f.name))
        .forall(!_.stats.ndvs.contains("id")))
    // a bad property fails the DDL, never the first INSERT
    val e = intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.db.propbad (id BIGINT) " +
        "TBLPROPERTIES('bloomColumns'='nope')"))
    assert(e.getMessage.contains("absent column"), e.getMessage)
    val e2 = intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.db.propbad2 (id BIGINT) " +
        "TBLPROPERTIES('write.delete.mode'='sometimes')"))
    assert(e2.getMessage.contains("copy-on-write"), e2.getMessage)
  }

  test("catalog-persisted views: create, nested, time travel, rename, " +
      "drop — all through SQL") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.vbase (id BIGINT, v BIGINT)")
    spark.range(100).selectExpr("id", "id * 3 AS v")
      .createOrReplaceTempView("vbase_src")
    spark.sql(s"INSERT INTO $cat.db.vbase SELECT * FROM vbase_src")
    // plain view over a gtab
    spark.sql(s"CALL $cat.system.create_view('db.v1', " +
      s"'SELECT id, v FROM $cat.db.vbase WHERE id < 50')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.v1")
      .as[Long].head() == 50)
    // a view is live text: new base rows show through
    spark.sql(s"INSERT INTO $cat.db.vbase VALUES (-1, -3)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.v1")
      .as[Long].head() == 51)
    // view over a TIME-TRAVEL read pins its snapshot
    val ver = ManifestTable.readManifest(s"$wh/db/vbase").get.version
    spark.sql(s"CALL $cat.system.create_view('db.v2', " +
      s"'SELECT * FROM $cat.db.vbase VERSION AS OF $ver')")
    spark.sql(s"INSERT INTO $cat.db.vbase VALUES (-2, -6)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.v2")
      .as[Long].head() == 101)
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.vbase")
      .as[Long].head() == 102)
    // a view over a view (nested expansion)
    spark.sql(s"CALL $cat.system.create_view('db.v3', " +
      s"'SELECT sum(v) AS s FROM $cat.db.v1')")
    // both negative inserts pass the id < 50 predicate
    assert(spark.sql(s"SELECT s FROM $cat.db.v3").as[Long].head() ==
      (0 until 50).map(_ * 3L).sum - 3 - 6)
    // name collisions are typed errors in both directions
    val e1 = intercept[Exception](spark.sql(
      s"CALL $cat.system.create_view('db.vbase', 'SELECT 1')"))
    assert(e1.getMessage.contains("already exists"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.db.v1 (id BIGINT)"))
    assert(e2.getMessage.contains("already exists"), e2.getMessage)
    // drop: the view stops resolving with a typed error
    spark.sql(s"CALL $cat.system.drop_view('db.v1')")
    val e3 = intercept[Exception](
      spark.sql(s"SELECT count(*) FROM $cat.db.v1").collect())
    assert(e3.getMessage.toUpperCase.contains("NOT_FOUND") ||
      e3.getMessage.contains("v1"), e3.getMessage)
    val e4 = intercept[Exception](spark.sql(
      s"CALL $cat.system.drop_view('db.v1')"))
    assert(e4.getMessage.contains("nothing dropped"), e4.getMessage)
  }

  test("show_views / describe_view; a view created after a cached miss " +
      "is visible in the same session") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.vws")
    spark.sql(s"CREATE TABLE $cat.vws.base (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.vws.base VALUES (1, 10), (2, 20)")
    // probe a name that is NOT yet a view — the resolution rule caches
    // the miss; the create below must invalidate it (the negative-cache
    // contract: a created view is visible to the next statement)
    val miss = intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.vws.late").collect())
    assert(miss.getMessage.contains("late"), miss.getMessage)
    spark.sql(s"CALL $cat.system.create_view('vws.late', " +
      s"'SELECT id FROM $cat.vws.base')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.vws.late")
      .as[Long].head() == 2)
    spark.sql(s"CALL $cat.system.create_view('vws.agg', " +
      s"'SELECT sum(v) AS s FROM $cat.vws.base')")
    val shown = spark.sql(s"CALL $cat.system.show_views('vws')")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(shown == Seq(("vws", "agg"), ("vws", "late")), shown.toString)
    val desc = spark.sql(s"CALL $cat.system.describe_view('vws.agg')")
      .collect().head
    assert(desc.getString(0) == "vws.agg")
    assert(desc.getString(1).contains("sum(v)"))
    assert(desc.getString(2).contains("s BIGINT"), desc.getString(2))
    val e = intercept[Exception](spark.sql(
      s"CALL $cat.system.describe_view('vws.nope')"))
    assert(e.getMessage.contains("no view"), e.getMessage)
  }

  test("base-table evolution under a stored view: SELECT * tracks an " +
      "added column; a view naming a dropped column is a typed error") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.vev")
    spark.sql(s"CREATE TABLE $cat.vev.t (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.vev.t VALUES (1, 10)")
    spark.sql(s"CALL $cat.system.create_view('vev.star', " +
      s"'SELECT * FROM $cat.vev.t')")
    spark.sql(s"CALL $cat.system.create_view('vev.byname', " +
      s"'SELECT v FROM $cat.vev.t')")
    assert(spark.sql(s"SELECT * FROM $cat.vev.star").columns.toSeq ==
      Seq("id", "v"))
    // ADD COLUMN: the star view exposes it on the next read (views are
    // live text, not schema snapshots), and DESCRIBE agrees
    spark.sql(s"ALTER TABLE $cat.vev.t ADD COLUMN w BIGINT")
    assert(spark.sql(s"SELECT * FROM $cat.vev.star").columns.toSeq ==
      Seq("id", "v", "w"))
    assert(spark.sql(s"CALL $cat.system.describe_view('vev.star')")
      .collect().head.getString(2).contains("w BIGINT"))
    // DROP COLUMN: a view that names the dropped column fails analysis
    // with the unresolved-column error — at read AND at describe
    spark.sql(s"ALTER TABLE $cat.vev.t DROP COLUMN v")
    val er = intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.vev.byname").collect())
    assert(er.getMessage.contains("v") &&
      (er.getMessage.contains("UNRESOLVED_COLUMN") ||
        er.getMessage.toLowerCase.contains("cannot be resolved")),
      er.getMessage)
    val ed = intercept[Exception](spark.sql(
      s"CALL $cat.system.describe_view('vev.byname')"))
    assert(ed.getMessage.contains("v"), ed.getMessage)
    // the star view simply tracks the narrowed schema
    assert(spark.sql(s"SELECT * FROM $cat.vev.star").columns.toSeq ==
      Seq("id", "w"))
  }

  test("ALTER SET TBLPROPERTIES adopts onto EXISTING files at the next " +
      "compaction / COW rewrite") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.adopt (id BIGINT, s STRING)")
    (0 until 400).map(i => (i.toLong, s"v$i")).toDF("id", "s")
      .createOrReplaceTempView("adopt_src")
    spark.sql(s"INSERT INTO $cat.db.adopt " +
      "SELECT /*+ REPARTITION(4, id) */ * FROM adopt_src")
    val dirT = s"$wh/db/adopt"
    assert(ManifestTable.readManifest(dirT).get.files
      .forall(f => !f.stats.blooms.contains("id")))
    // the property lands AFTER the data: no file carries a bloom yet, so
    // a file-derived-only rewrite config could never add one
    spark.sql(
      s"ALTER TABLE $cat.db.adopt SET TBLPROPERTIES('bloomColumns'='id')")
    spark.sql(s"CALL $cat.system.compact(`table` => 'db.adopt', " +
      "target_files => 4)")
    val m = ManifestTable.readManifest(dirT).get
    assert(m.files.nonEmpty && m.files.forall(_.stats.blooms.contains("id")),
      "compaction must adopt the declared bloom onto every rewritten file")
    // and a COW rewrite adopts too: UPDATE one slice, its replacement
    // files carry the bloom
    spark.sql(s"ALTER TABLE $cat.db.adopt " +
      "SET TBLPROPERTIES('ndvColumns'='id')")
    spark.sql(s"UPDATE $cat.db.adopt SET s = 'u' WHERE id < 100")
    val m2 = ManifestTable.readManifest(dirT).get
    val rewritten = m2.files.map(_.name).toSet -- m.files.map(_.name).toSet
    assert(rewritten.nonEmpty)
    assert(m2.files.filter(f => rewritten.contains(f.name)).forall(f =>
      f.stats.blooms.contains("id") && f.stats.ndvs.contains("id")),
      "a COW rewrite must adopt the declared structures")
  }
}
