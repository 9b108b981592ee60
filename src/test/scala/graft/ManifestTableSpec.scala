package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{FsMeta, ManifestTable}

/** DSv2 WRITE path: manifest-committed visibility, append/overwrite
  * versioning, abort hygiene, round-trip fidelity (incl. escaping and
  * nulls), whole-file CRC, vacuum GC. The V2-layer mirror of the
  * reference's tmp-then-rename commit (mr/coordinator.go:37-53), with the
  * rename count reduced to one (the manifest) — see ManifestTable scaladoc.
  */
class ManifestTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Fmt = "graft.sources.ManifestTable"
  private def tmp(): String =
    Files.createTempDirectory("graft_mtab").toString

  private def readBack(dir: String): DataFrame =
    spark.read.format(Fmt).option("path", dir).load()

  test("round-trip: append write then read back, all supported types") {
    val dir = tmp()
    val df = Seq(
      (1L, 7, 0.25, "plain", true),
      (2L, -3, -1.5e300, "tab\there\nand\\slash", false),
      (3L, 0, 0.1, null.asInstanceOf[String], true),
      (4L, 42, java.lang.Double.MIN_VALUE, "\\N literal", false))
      .toDF("id", "k", "x", "s", "b")
    df.write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val back = readBack(dir)
    assert(back.schema == df.schema)
    assert(back.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
  }

  test("append adds a manifest version keeping previous files; overwrite truncates") {
    val dir = tmp()
    def w(lo: Int, mode: SaveMode) =
      (lo until lo + 10).map(i => (i.toLong, s"r$i")).toDF("id", "s")
        .write.format(Fmt).option("path", dir).mode(mode).save()
    w(0, SaveMode.Append)
    val m1 = ManifestTable.readManifest(dir).get
    w(10, SaveMode.Append)
    val m2 = ManifestTable.readManifest(dir).get
    assert(m2.version == m1.version + 1)
    assert(m1.files.toSet.subsetOf(m2.files.toSet))
    assert(readBack(dir).count() == 20)
    w(100, SaveMode.Overwrite)
    val m3 = ManifestTable.readManifest(dir).get
    assert(m3.version == m2.version + 1)
    assert(m3.files.toSet.intersect(m2.files.toSet).isEmpty)
    assert(readBack(dir).agg(min("id"), max("id")).as[(Long, Long)].head() ==
      ((100L, 109L)))
  }

  test("a failed job leaves no committed output: manifest stays at previous version") {
    val dir = tmp()
    Seq((1L, "keep")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val m1 = ManifestTable.readManifest(dir).get
    val boom = udf((i: Long) => {
      if (i == 3L) throw new RuntimeException("injected task failure"); i
    })
    intercept[Exception] {
      Seq(2L, 3L).toDF("id").repartition(2)
        .withColumn("id", boom($"id")).withColumn("s", lit("junk"))
        .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    }
    val m2 = ManifestTable.readManifest(dir).get
    assert(m2 == m1, "manifest must be untouched by an aborted job")
    assert(readBack(dir).as[(Long, String)].collect().toSeq ==
      Seq((1L, "keep")))
    // any orphaned task file is unlisted — invisible to readers, and
    // vacuum(0) collects it
    ManifestTable.vacuum(dir, graceMs = 0L)
    assert(FsMeta.listFiles(dir + "/data").toSet ==
      m1.files.map(_.name).toSet)
  }

  test("vacuum deletes only unlisted files past the grace window") {
    val dir = tmp()
    Seq((1L, "a")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    FsMeta.writeString(dir + "/data/orphan.gtab", "9\tz\n")
    assert(ManifestTable.vacuum(dir, graceMs = 3600000L).isEmpty,
      "fresh orphan must survive the grace window")
    assert(ManifestTable.vacuum(dir, graceMs = 0L) == Seq("orphan.gtab"))
    assert(readBack(dir).count() == 1)
  }

  test("time travel: versionAsOf pins file list and schema; history is immutable") {
    val dir = tmp()
    def w(lo: Int, mode: SaveMode) =
      (lo until lo + 5).map(i => (i.toLong, s"r$i")).toDF("id", "s")
        .write.format(Fmt).option("path", dir).mode(mode).save()
    w(0, SaveMode.Append)     // v1: ids 0..4
    w(10, SaveMode.Append)    // v2: ids 0..4 + 10..14
    w(100, SaveMode.Overwrite) // v3: ids 100..104
    val cur = ManifestTable.readManifest(dir).get.version
    def asOf(v: Long) = spark.read.format(Fmt).option("path", dir)
      .option("versionAsOf", v).load()
    assert(asOf(cur - 2).select("id").as[Long].collect().sorted.toSeq ==
      (0L to 4L))
    assert(asOf(cur - 1).select("id").as[Long].collect().sorted.toSeq ==
      (0L to 4L) ++ (10L to 14L))
    assert(asOf(cur).select("id").as[Long].collect().sorted.toSeq ==
      (100L to 104L))
    assert(readBack(dir).count() == 5) // unpinned read = current
    // the as-of scan keeps the metadata COUNT(*) and zone-map machinery
    assert(asOf(cur - 1).count() == 10)
    assert(asOf(cur - 1).filter(col("id") >= 10).count() == 5)
    // schema as of an older version predates evolution
    (0 until 3).map(i => (i.toLong, s"x$i", i * 2))
      .toDF("id", "s", "extra")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    assert(readBack(dir).schema.fieldNames.toSeq == Seq("id", "s", "extra"))
    assert(asOf(cur).schema.fieldNames.toSeq == Seq("id", "s"))
  }

  test("history answers from metadata: one row per retained version, rows/files exact") {
    val dir = tmp()
    (0 until 10).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .repartition(2)
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    (10 until 13).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .repartition(1)
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val h = ManifestTable.history(dir)
    assert(h.map(x => (x._1, x._2, x._3)) ==
      Seq((1L, 2, 10L), (2L, 3, 13L)))
    ManifestTable.expireSnapshots(dir, keepLast = 1)
    assert(ManifestTable.history(dir).map(_._1) == Seq(2L))
  }

  test("rollback republishes an old version as the next version; snapshots stay intact") {
    val dir = tmp()
    Seq((1L, "keep")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val v1 = ManifestTable.readManifest(dir).get.version
    Seq((2L, "bad")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Overwrite).save()
    val v2 = ManifestTable.readManifest(dir).get.version
    val v3 = ManifestTable.rollback(dir, v1)
    assert(v3 == v2 + 1)
    assert(readBack(dir).select("s").as[String].collect().toSeq == Seq("keep"))
    // the rolled-back-over version remains time-travelable (history append)
    assert(spark.read.format(Fmt).option("path", dir)
      .option("versionAsOf", v2).load()
      .select("s").as[String].collect().toSeq == Seq("bad"))
    // a rollback of a rollback returns to "bad"
    ManifestTable.rollback(dir, v2)
    assert(readBack(dir).select("s").as[String].collect().toSeq == Seq("bad"))
  }

  test("expireSnapshots gates vacuum: live snapshots protect their files, expired ones release them") {
    val dir = tmp()
    Seq((1L, "old")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val v1 = ManifestTable.readManifest(dir).get.version
    Seq((2L, "new")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Overwrite).save()
    // v1's file is out of the CURRENT manifest but protected by its snapshot
    assert(ManifestTable.vacuum(dir, graceMs = 0L).isEmpty)
    assert(spark.read.format(Fmt).option("path", dir)
      .option("versionAsOf", v1).load()
      .select("s").as[String].collect().toSeq == Seq("old"))
    assert(ManifestTable.expireSnapshots(dir, keepLast = 1) == Seq(v1))
    // expired version: clear error, then vacuum reclaims its file
    val e = intercept[IllegalArgumentException] {
      spark.read.format(Fmt).option("path", dir)
        .option("versionAsOf", v1).load().collect()
    }
    assert(e.getMessage.contains("no snapshot"))
    assert(ManifestTable.vacuum(dir, graceMs = 0L).nonEmpty)
    assert(readBack(dir).select("s").as[String].collect().toSeq == Seq("new"))
  }

  test("corrupted data file fails the read via the manifest CRC") {
    val dir = tmp()
    Seq((1L, "aaaa"), (2L, "bbbb")).toDF("id", "s")
      .coalesce(1)
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val f = ManifestTable.readManifest(dir).get.files.head.name
    val raw = FsMeta.readString(dir + "/data/" + f)
    FsMeta.writeString(dir + "/data/" + f, raw.replace("aaaa", "aaXa"))
    val e = intercept[org.apache.spark.SparkException] {
      readBack(dir).collect()
    }
    assert(e.getMessage.contains("CRC") ||
      Option(e.getCause).exists(_.getMessage.contains("CRC")))
  }

  test("torn pointer: recovers from the CAS snapshot when one exists, " +
      "fails loudly (CRC) when none does") {
    // round-17 contract split: the _MANIFEST pointer is a CACHE of the
    // max create-once version snapshot, so a torn pointer read (a
    // reader racing an in-place pointer PUT) RECOVERS from the
    // snapshot — the CRC still guards the recovered payload. Only a
    // table with no snapshot to recover from (pre-time-travel legacy)
    // surfaces the loud CRC error.
    val dir = tmp()
    Seq((1L, "a")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val mp = ManifestTable.manifestPath(dir)
    val raw = FsMeta.readString(mp)
    FsMeta.writeString(mp, raw.dropRight(3))
    val recovered = ManifestTable.readManifest(dir).get
    assert(recovered.version == 1 && recovered.files.nonEmpty,
      "torn pointer must recover from the retained v1 snapshot")
    // no snapshot left: the torn pointer is the only state — loud CRC
    FsMeta.deleteRecursive(dir + "/_MANIFEST.v1")
    val e = intercept[IllegalStateException] { ManifestTable.readManifest(dir) }
    assert(e.getMessage.contains("CRC"))
  }

  test("column pruning reaches the reader schema; unsupported types fail at plan time") {
    val dir = tmp()
    (0 until 100).map(i => (i.toLong, i * 2, s"s$i")).toDF("id", "k", "s")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val df = readBack(dir).groupBy().sum("k")
    assert(df.as[Long].head() == (0 until 100).map(_ * 2L).sum)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<k:int>"),
      s"k-only read schema not pruned:\n$plan")
    val bad = Seq((1L, Array(1.0f))).toDF("id", "emb")
    val err = intercept[Exception] {
      bad.write.format(Fmt).option("path", tmp()).mode(SaveMode.Append).save()
    }
    assert(err.getMessage.contains("does not support"))
  }

  test("streaming write: epochs append as manifest versions, content matches batch") {
    val dir = tmp()
    val src = (0 until 40).map(i => (i.toLong, s"v$i")).toDF("id", "s")
    val staged = tmp()
    src.repartition(4).write.mode("overwrite").parquet(staged)
    val q = spark.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
      .writeStream.format(Fmt).option("path", dir)
      .option("checkpointLocation", tmp())
      .start()
    try q.processAllAvailable() finally q.stop()
    val m = ManifestTable.readManifest(dir).get
    assert(m.version > 1, "multiple epochs must publish multiple versions")
    assert(m.epoch >= 0, "streaming commit must record its epoch")
    assert(readBack(dir).as[(Long, String)].collect().toSet ==
      src.as[(Long, String)].collect().toSet)
    // streaming epochs ARE versions — so time travel replays the ingest:
    // every snapshot is a prefix of the final state, strictly growing,
    // and the last snapshot equals the live table
    val versions = ManifestTable.snapshotVersions(dir)
    assert(versions.size == m.version)
    val sets = versions.map { v =>
      spark.read.format(Fmt).option("path", dir)
        .option("versionAsOf", v).load()
        .as[(Long, String)].collect().toSet
    }
    val fin = src.as[(Long, String)].collect().toSet
    sets.sliding(2).foreach { case Seq(a, b) =>
      assert(a.subsetOf(b) && a.size < b.size,
        "each epoch's snapshot must strictly grow the prefix")
    case _ => ()
    }
    assert(sets.last == fin)
  }

  test("replayed epoch is dropped inside the manifest swap (exactly-once table state)") {
    val dir = tmp()
    import org.apache.spark.sql.types.StructType
    val schema = StructType.fromDDL("id BIGINT, s STRING")
    def fileFor(name: String, content: String) = {
      FsMeta.writeString(s"$dir/data/$name", content)
      val c = new java.util.zip.CRC32
      c.update(content.getBytes("UTF-8"))
      ManifestTable.FileEntry(name, content.count(_ == '\n').toLong,
        c.getValue, Seq("id", "s"))
    }
    ManifestTable.commitVersion(dir, schema,
      Seq(fileFor("e0.gtab", "1\ta\n")), keepPrevious = true, epoch = 0L)
    ManifestTable.commitVersion(dir, schema,
      Seq(fileFor("e1.gtab", "2\tb\n")), keepPrevious = true, epoch = 1L)
    val m2 = ManifestTable.readManifest(dir).get
    // checkpoint-recovery rerun of epoch 1 under a different task file
    ManifestTable.commitVersion(dir, schema,
      Seq(fileFor("e1-replay.gtab", "2\tb\n")), keepPrevious = true,
      epoch = 1L)
    val m3 = ManifestTable.readManifest(dir).get
    assert(m3 == m2, "replayed epoch must not publish a new version")
    assert(!FsMeta.exists(s"$dir/data/e1-replay.gtab"),
      "the rerun's orphan file is deleted at the dedup point")
    assert(readBack(dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("zone maps: range-clustered write skips files outside the predicate's range") {
    val dir = tmp()
    spark.range(0, 4000).select($"id", ($"id" * 2.5).as("x"),
        concat(lit("s"), $"id").as("s"))
      .repartitionByRange(8, $"id")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val m = ManifestTable.readManifest(dir).get
    assert(m.files.size == 8)
    assert(m.files.forall(f => f.stats.zones.contains("id") &&
      f.stats.zones.contains("x") && !f.stats.zones.contains("s")),
      "numeric columns carry zone maps, strings never do")
    val df = readBack(dir).filter($"id" >= 1000L && $"id" < 1100L)
    assert(df.count() == 100)
    val plan = df.queryExecution.executedPlan.toString
    val m8 = "files=(\\d+)/8".r.findFirstMatchIn(plan)
    assert(m8.exists(_.group(1).toInt <= 2),
      s"range predicate must prune to the overlapping file(s):\n$plan")
    // double-column range + IN on the clustered key also skip
    val df2 = readBack(dir).filter($"x" <= 50.0)
    assert(df2.count() == 21)
    assert("files=(\\d+)/8".r.findFirstMatchIn(
      df2.queryExecution.executedPlan.toString).exists(_.group(1).toInt <= 1))
    val df3 = readBack(dir).filter($"id".isin(17L, 3900L))
    assert(df3.count() == 2)
    assert("files=(\\d+)/8".r.findFirstMatchIn(
      df3.queryExecution.executedPlan.toString).exists(_.group(1).toInt <= 2))
    // non-stats (string) predicate prunes nothing and stays exact
    val df4 = readBack(dir).filter($"s" === "s42")
    assert(df4.count() == 1)
    assert(df4.queryExecution.executedPlan.toString.contains("files=8/8"))
  }

  test("NaN rows poison the file's zone map (Spark orders NaN above every double)") {
    val dir = tmp()
    Seq((1L, 1.0), (2L, Double.NaN), (3L, 2.0)).toDF("id", "x")
      .coalesce(1)
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val m = ManifestTable.readManifest(dir).get
    assert(!m.files.head.stats.zones.contains("x"),
      "a NaN-containing file must not publish finite x bounds")
    assert(m.files.head.stats.zones.contains("id"))
    // NaN > 1e300 is TRUE under Spark's ordering — the file must be read
    val hit = readBack(dir).filter($"x" > 1e300).collect()
    assert(hit.map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("unfiltered COUNT(*) answers from manifest metadata, no aggregate node") {
    val dir = tmp()
    spark.range(0, 12345).select($"id")
      .repartition(5)
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val df = readBack(dir).agg(count(lit(1)).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ManifestCount: 12345"), s"not metadata-answered:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"complete pushdown must leave no aggregate node:\n$plan")
    assert(df.as[Long].head() == 12345L)
    // any filter declines the pushdown (rows must be seen)
    val filtered = readBack(dir).filter($"id" > 100L).agg(count(lit(1)))
    assert(!filtered.queryExecution.executedPlan.toString
      .contains("ManifestCount"))
    assert(filtered.as[Long].head() == 12244L)
  }

  test("schema evolution: appended columns read as null from old files; omitted columns as null from new") {
    val dir = tmp()
    Seq((1L, "a")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    // append ADDS column x -> table schema becomes the union
    Seq((2L, "b", 2.5)).toDF("id", "s", "x")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    // append OMITS column s -> new file just doesn't carry it
    Seq((3L, 3.5)).toDF("id", "x")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val back = readBack(dir)
    assert(back.schema.fieldNames.toSeq == Seq("id", "s", "x"))
    val rows = back.orderBy("id")
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)), Option(r.get(2)))).toSeq
    assert(rows == Seq(
      (1L, Some("a"), None),
      (2L, Some("b"), Some(2.5)),
      (3L, None, Some(3.5))))
    // zone maps still prune on the evolved column where files carry it;
    // the pre-evolution file has no x stats so it is conservatively KEPT
    // (its rows read x as null and fail the filter at row level)
    val df = back.filter($"x" >= 3.0)
    assert(df.count() == 1)
    assert(df.queryExecution.executedPlan.toString.contains("files=2/3"))
    // retyping an existing column is rejected at commit
    val err = intercept[Exception] {
      Seq((9L, 9)).toDF("id", "x") // x: int, table says double
        .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    }
    assert(err.getMessage.contains("never retype") ||
      Option(err.getCause).exists(_.getMessage.contains("never retype")))
  }

  test("compaction rewrites to fewer files, preserves data, leaves fragments for in-flight readers") {
    val dir = tmp()
    val src = (0 until 500).map(i => (i.toLong, s"r$i")).toDF("id", "s")
    src.repartition(9)
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val vBefore = ManifestTable.readManifest(dir).get.version
    // an in-flight reader planned against the pre-compaction manifest
    val inFlight = readBack(dir)
    val (before, after) = ManifestTable.compact(spark, dir, targetFiles = 2)
    assert(before == 9 && after == 2)
    assert(ManifestTable.readManifest(dir).get.version > vBefore)
    assert(readBack(dir).as[(Long, String)].collect().toSet ==
      src.as[(Long, String)].collect().toSet)
    // fragments still on disk: the in-flight reader completes, and the
    // pre-compaction SNAPSHOT protects them from vacuum until expired —
    // expireSnapshots then vacuum reclaims exactly the 9
    assert(inFlight.count() == 500)
    assert(ManifestTable.vacuum(dir, graceMs = 0L).isEmpty)
    assert(ManifestTable.expireSnapshots(dir, keepLast = 1).nonEmpty)
    assert(ManifestTable.vacuum(dir, graceMs = 0L).size == 9)
    assert(readBack(dir).count() == 500)
  }

  test("one data file per input partition; empty write commits an empty readable table") {
    val dir = tmp()
    spark.range(0, 1000).withColumn("s", concat(lit("x"), $"id"))
      .repartition(7)
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    assert(ManifestTable.readManifest(dir).get.files.size == 7)
    assert(readBack(dir).count() == 1000)
    val empty = tmp()
    spark.range(0, 0).write.format(Fmt).option("path", empty)
      .mode(SaveMode.Append).save()
    assert(readBack(empty).count() == 0)
  }

  test("time travel returns each version's OWN schema, both directions across an evolution") {
    val dir = tmp()
    Seq((2L, "even")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val v1 = ManifestTable.readManifest(dir).get.version
    Seq((3L, "odd", 9.5)).toDF("id", "s", "x")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val v2 = ManifestTable.readManifest(dir).get.version
    // pre-evolution snapshot: two columns, no ghost of x
    val old = spark.read.format(Fmt).option("path", dir)
      .option("versionAsOf", v1).load()
    assert(old.schema.fieldNames.toSeq == Seq("id", "s"))
    assert(old.count() == 1)
    // post-evolution snapshot (and live): union schema with null x for
    // the pre-evolution file
    val now = spark.read.format(Fmt).option("path", dir)
      .option("versionAsOf", v2).load()
    assert(now.schema.fieldNames.toSeq == Seq("id", "s", "x"))
    assert(now.orderBy("id").collect().map(r => Option(r.get(2))).toSeq ==
      Seq(None, Some(9.5)))
  }

  test("stray _MANIFEST.v*.tmp (crashed publish) is ignored by snapshotVersions/history/vacuum") {
    val dir = tmp()
    Seq((1L, "a")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val versions = ManifestTable.snapshotVersions(dir)
    // a crash between publishAtomic's tmp write and rename leaves these
    Files.writeString(java.nio.file.Paths.get(dir, "_MANIFEST.v99.tmp"),
      "torn junk")
    Files.writeString(java.nio.file.Paths.get(dir, "_MANIFEST.vnope"),
      "not a version")
    assert(ManifestTable.snapshotVersions(dir) == versions,
      "non-numeric _MANIFEST.v* names must not surface as versions")
    assert(ManifestTable.vacuum(dir, graceMs = 0L).isEmpty) // no throw
    assert(readBack(dir).count() == 1)
  }

  test("vacuum(keepLast=) is retention + reclaim in one call") {
    val dir = tmp()
    Seq((1L, "old")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    Seq((2L, "new")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Overwrite).save()
    // default retention keeps every snapshot: nothing reclaimable
    assert(ManifestTable.vacuum(dir, graceMs = 0L).isEmpty)
    // one call: expire beyond the last version, then reclaim its file
    assert(ManifestTable.vacuum(dir, graceMs = 0L, keepLast = 1).nonEmpty)
    assert(readBack(dir).select("s").as[String].collect().toSeq ==
      Seq("new"))
  }

  test("a DataFrame write refuses column names that collide with stat keys") {
    // a zone map is stored under its column's bare name, beside the
    // reserved '#' stat keys: a bigint column `#dvp` would be read back
    // as a deletion-vector chain, `#sz` as the file's byte size
    Seq("#dvp", "#sz", "#dv:x", "_file").foreach { c =>
      val dir = tmp()
      val e = intercept[Exception] {
        (0 until 4).map(i => (i.toLong, i.toLong)).toDF("id", c)
          .write.format(Fmt).option("path", dir).mode(SaveMode.Append)
          .save()
      }
      assert(e.getMessage.contains("reserved"), e.getMessage)
      assert(ManifestTable.readManifest(dir).isEmpty, c)
    }
  }
}
