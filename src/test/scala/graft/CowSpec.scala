package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{CowOps, GTabBloom, ManifestTable}

/** Copy-on-write MERGE/DELETE (q88/q89): affected files are found via
  * zone maps and rewritten; untouched files carry over byte-identically
  * (same name, same CRC); results equal the full-table row semantics;
  * the pre-op version stays time-travelable.
  */
class CowSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Fmt = "graft.sources.ManifestTable"
  private def tmp(): String =
    Files.createTempDirectory("graft_cow").toString

  /** 100 rows, key-clustered into 5 files of 20 (tight zone maps). */
  private def build(dir: String): Unit =
    spark.range(0, 100).select(col("id").as("k"),
        concat(lit("v"), col("id")).as("s"))
      .repartitionByRange(5, col("k")).sortWithinPartitions("k")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()

  private def readAll(dir: String) =
    spark.read.format(Fmt).option("path", dir).load()
      .as[(Long, String)].collect().toMap

  test("merge rewrites only key-overlapping files; untouched entries carry name AND crc") {
    val dir = tmp()
    build(dir)
    val before = ManifestTable.readManifest(dir).get
    val v0 = before.version
    // keys 5 and 17 live in file [0,19]; 97 in [80,99]; 2 files affected
    val updates = Seq((5L, "U5"), (17L, "U17"), (97L, "U97"))
      .toDF("k", "s")
    val r = CowOps.merge(spark, dir, updates, "k")
    assert(r.filesRewritten == 2 && r.filesUntouched == 3)
    val after = ManifestTable.readManifest(dir).get
    val untouchedBefore = before.files.filter { f =>
      val lo = f.stats.zones("k").lo.toLong
      lo >= 20 && lo < 80
    }.toSet
    assert(untouchedBefore.subsetOf(after.files.toSet),
      "untouched files must carry over by reference (same entry, same crc)")
    val got = readAll(dir)
    assert(got.size == 100)
    assert(got(5L) == "U5" && got(17L) == "U17" && got(97L) == "U97")
    assert(got(6L) == "v6" && got(50L) == "v50")
    // pre-merge version still time-travelable
    val old = spark.read.format(Fmt).option("path", dir)
      .option("versionAsOf", v0).load().as[(Long, String)].collect().toMap
    assert(old(5L) == "v5" && old.size == 100)
  }

  test("merge inserts keys outside every file range without touching any file") {
    val dir = tmp()
    build(dir)
    val r = CowOps.merge(spark, dir,
      Seq((1000L, "new"), (2000L, "new2")).toDF("k", "s"), "k")
    assert(r.filesRewritten == 0 && r.filesUntouched == 5 && r.filesAdded >= 1)
    val got = readAll(dir)
    assert(got.size == 102 && got(1000L) == "new" && got(0L) == "v0")
  }

  test("merge equals the full-table MergeUpsert row semantics") {
    val dir = tmp()
    build(dir)
    val updates = Seq((0L, "z"), (41L, "z41"), (999L, "ins")).toDF("k", "s")
    val expect = graft.operators.MergeUpsert.merge(
      spark.range(0, 100).select(col("id").as("k"),
        concat(lit("v"), col("id")).as("s")),
      updates, Seq("k")).as[(Long, String)].collect().toMap
    CowOps.merge(spark, dir, updates, "k")
    assert(readAll(dir) == expect)
  }

  test("delete rewrites partially-hit files, drops fully-deleted files, keeps the rest") {
    val dir = tmp()
    build(dir)
    // file [20,39] fully deleted; file [0,19] partially (keys 0..4)
    val keys = ((20L to 39L) ++ (0L to 4L)).toDF("k")
    val r = CowOps.delete(spark, dir, keys, "k")
    assert(r.filesRewritten == 2 && r.filesUntouched == 3)
    val got = readAll(dir)
    assert(got.size == 75)
    assert(!got.contains(25L) && !got.contains(0L) && got(5L) == "v5")
    // the fully-deleted range produced no replacement rows for [20,39]
    assert(ManifestTable.readManifest(dir).get.files.forall { f =>
      val z = f.stats.zones("k")
      !(z.lo.toLong >= 20 && z.hi.toLong <= 39)
    })
  }

  test("delete of every key leaves a readable empty table") {
    val dir = tmp()
    build(dir)
    val r = CowOps.delete(spark, dir, spark.range(0, 100).toDF("k"), "k")
    assert(r.filesRewritten == 5 && r.filesAdded == 0)
    assert(spark.read.format(Fmt).option("path", dir).load().count() == 0)
  }

  test("blooms tighten the affected set on a hash-scattered layout where ranges cannot") {
    val dir = tmp()
    spark.range(0, 4000).select(col("id").as("k"),
        concat(lit("v"), col("id")).as("s"))
      .repartition(8, col("k"))
      .write.format(Fmt).option("path", dir)
      .option("bloomColumns", "k").mode(SaveMode.Append).save()
    // every file's range spans ~the whole table: zone maps alone would
    // mark all 8 files affected; blooms cut it to the true holders
    val r = CowOps.merge(spark, dir,
      Seq((123L, "U"), (3210L, "U2")).toDF("k", "s"), "k")
    assert(r.filesRewritten <= 3 && r.filesUntouched >= 5,
      s"bloomed hash layout must localize the merge, got $r")
    val got = spark.read.format(Fmt).option("path", dir).load()
      .as[(Long, String)].collect().toMap
    assert(got.size == 4000 && got(123L) == "U" && got(3210L) == "U2" &&
      got(124L) == "v124")
  }

  test("schema and key-type guards") {
    val dir = tmp()
    build(dir)
    intercept[IllegalArgumentException] {
      CowOps.merge(spark, dir, Seq((1L, "x", 2)).toDF("k", "s", "extra"), "k")
    }
    intercept[IllegalArgumentException] {
      CowOps.delete(spark, dir, Seq("a").toDF("k"), "k")
    }
  }

  test("rewrites stage re-clustered: no file-count inflation, pruning survives row-level ops") {
    val dir = tmp()
    build(dir)
    // two affected files ([0,19] and [80,99]) under shuffle.partitions=32:
    // without re-clustering the staged merge output would fragment into
    // up to 32 scattered-range files
    CowOps.merge(spark, dir,
      Seq((5L, "U5"), (85L, "U85")).toDF("k", "s"), "k")
    val m = ManifestTable.readManifest(dir).get
    assert(m.files.size <= 5,
      s"a 2-file rewrite must not inflate the file count: ${m.files.size}")
    val plan = spark.read.format(Fmt).option("path", dir).load()
      .filter($"k" >= 80).queryExecution.executedPlan.toString
    val pruned = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
      .map(mm => (mm.group(1).toInt, mm.group(2).toInt)).get
    assert(pruned._1 <= 2 && pruned._2 == m.files.size,
      s"selective read must still prune after the rewrite, got $pruned")
    assert(readAll(dir)(5L) == "U5" && readAll(dir).size == 100)
  }

  test("clusterBy compaction preserves zone-map prunability; naive compaction destroys it") {
    def prunedFiles(dir: String): String = {
      val plan = spark.read.format(Fmt).option("path", dir).load()
        .filter($"k" >= 80).queryExecution.executedPlan.toString
      "files=(\\d+/\\d+)".r.findFirstMatchIn(plan).map(_.group(1))
        .getOrElse(fail(s"no files= marker in:\n$plan"))
    }
    // range-clustered table, MOR-deleted, then compacted BOTH ways
    val naive = tmp(); val clustered = tmp()
    Seq(naive, clustered).foreach { dir =>
      build(dir)
      CowOps.deleteMor(spark, dir, Seq(5L, 85L).toDF("k"), "k")
    }
    ManifestTable.compact(spark, naive, targetFiles = 4)
    ManifestTable.compact(spark, clustered, targetFiles = 4,
      clusterBy = Seq("k"))
    // both materialized the deletes and kept the data
    assert(readAll(naive) == readAll(clustered))
    assert(readAll(clustered).size == 98)
    // the selective range read prunes on the re-clustered layout and
    // cannot on the round-robin one
    assert(prunedFiles(clustered) == "1/4",
      s"re-clustered compaction must keep skipping, got ${prunedFiles(clustered)}")
    assert(prunedFiles(naive) == "4/4",
      s"round-robin compaction scatters ranges, got ${prunedFiles(naive)}")
  }

  test("double-keyed TABLE fails upfront with a clear error, not mid-operation (ADVICE r10)") {
    val dir = tmp()
    spark.range(0, 10).select((col("id") * 1.5).as("k"),
        concat(lit("v"), col("id")).as("s"))
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    // keys frame is integral, so only the table-side guard can catch it
    // — without it affectedFiles' lo.toLong throws NumberFormatException
    val e = intercept[IllegalArgumentException] {
      CowOps.delete(spark, dir, Seq(3L).toDF("k"), "k")
    }
    assert(e.getMessage.contains("must be integral"))
  }

  test("deleteMor: zero data files rewritten, read path subtracts the deletion vector") {
    val dir = tmp()
    build(dir)
    val before = ManifestTable.readManifest(dir).get
    val v0 = before.version
    val r = CowOps.deleteMor(spark, dir,
      spark.range(0, 100).filter($"id" % 7 === 0).select($"id".as("k")),
      "k")
    assert(r.filesRewritten == 0 && r.filesAdded == 0,
      s"merge-on-read must rewrite nothing, got $r")
    // the data files are BYTE-IDENTICAL entries (same name, same crc);
    // only their stats gained a #dvp reference, counting exactly the
    // rows each file lost
    val after = ManifestTable.readManifest(dir).get
    assert(after.files.map(f => (f.name, f.crc)).toSet ==
      before.files.map(f => (f.name, f.crc)).toSet)
    assert(after.files.forall(_.stats.dv.isDefined))
    assert(after.files.map(_.stats.dv.get.count).sum == 15)
    // read-back equals the anti-join
    val got = readAll(dir)
    assert(got.size == 100 - 15 && !got.contains(0L) && !got.contains(98L)
      && got(1L) == "v1")
    // count(*) is exact: the metadata-count fast path must DECLINE on a
    // dv table (manifest rows are physical) and scan instead
    val cnt = spark.read.format(Fmt).option("path", dir).load()
    assert(cnt.count() == 85)
    assert(!cnt.groupBy().count().queryExecution.executedPlan.toString
      .contains("ManifestCount"), "metadata count must decline under dvs")
    // pre-delete version still sees every row
    assert(spark.read.format(Fmt).option("path", dir)
      .option("versionAsOf", v0).load().count() == 100)
  }

  test("stacked MOR deletes chain position sidecars, then fold; compaction drops them") {
    val dir = tmp()
    build(dir)
    // keys 1..6 live in file [0,19], key 50 in [40,59]; key 2 repeats,
    // and an already-deleted row is never read again, so counts stay
    // exact. Five deletes touch file [0,19]: the fifth sidecar would
    // exceed the chain bound, so the chain folds into one.
    Seq(Seq(1L, 2L), Seq(2L, 3L, 50L), Seq(4L), Seq(5L), Seq(6L)).foreach {
      ks =>
        CowOps.deleteMor(spark, dir, ks.toDF("k"), "k")
        ManifestTable.readManifest(dir).get.files.foreach { f =>
          assert(f.stats.dv.forall(
            _.names.length <= ManifestTable.DvPosChainMax))
        }
    }
    val m = ManifestTable.readManifest(dir).get
    val dvs = m.files.flatMap(f =>
      f.stats.dv.map(f.stats.zones("k").lo -> _)).toMap
    assert(dvs.keySet == Set("0", "40"), s"vectored files: $dvs")
    assert(dvs("0").count == 6 && dvs("40").count == 1)
    assert(dvs("0").names.length < 5, "the chain must have folded")
    assert(readAll(dir).size == 93)
    // every chain member is manifest-referenced: vacuum must not reap it
    // while a retaining snapshot lives
    assert(ManifestTable.vacuum(dir, graceMs = 0L).isEmpty)
    assert(readAll(dir).size == 93)
    // compaction reads THROUGH the merge and drops every dv reference
    ManifestTable.compact(spark, dir, targetFiles = 2)
    val compacted = ManifestTable.readManifest(dir).get
    assert(compacted.files.forall(!_.stats.dv.isDefined))
    val df = spark.read.format(Fmt).option("path", dir).load()
    assert(df.count() == 93)
    // the metadata-count fast path is restored post-compaction
    assert(df.groupBy().count().queryExecution.executedPlan.toString
      .contains("ManifestCount"))
    // expire + vacuum now reclaims the obsolete sidecars and fragments
    ManifestTable.expireSnapshots(dir, keepLast = 1)
    assert(ManifestTable.vacuum(dir, graceMs = 0L).nonEmpty)
    assert(readAll(dir).size == 93)
  }

  test("mergeMor: zero rewrites, read equals the COW merge row semantics, stacking works") {
    val dir = tmp()
    build(dir)
    val before = ManifestTable.readManifest(dir).get
    val updates = Seq((5L, "U5"), (17L, "U17"), (1000L, "new"))
      .toDF("k", "s")
    val r = CowOps.mergeMor(spark, dir, updates, "k")
    assert(r.filesRewritten == 0 && r.filesAdded >= 1,
      s"merge-on-read must rewrite nothing and add the update file, got $r")
    val after = ManifestTable.readManifest(dir).get
    // every ORIGINAL entry survives byte-identical (same name+crc),
    // affected ones gained a dv reference
    val beforeKeys = before.files.map(f => (f.name, f.crc)).toSet
    assert(beforeKeys.subsetOf(after.files.map(f => (f.name, f.crc)).toSet))
    assert(after.files.exists(_.stats.dv.isDefined))
    // read semantics equal the COW merge (whole-row upsert + insert)
    val cow = tmp()
    build(cow)
    CowOps.merge(spark, cow, updates, "k")
    assert(readAll(dir) == readAll(cow))
    // stacking: a second MOR merge over an already-MOR'd key
    CowOps.mergeMor(spark, dir, Seq((5L, "U5b")).toDF("k", "s"), "k")
    val got = readAll(dir)
    assert(got(5L) == "U5b" && got(17L) == "U17" && got(1000L) == "new" &&
      got.size == 101)
    // compaction materializes the whole MOR state away
    ManifestTable.compact(spark, dir, targetFiles = 2)
    assert(ManifestTable.readManifest(dir).get.files.forall(
      !_.stats.dv.isDefined))
    assert(readAll(dir) == got)
  }

  test("an entry carrying a legacy #dv: stat fails the read loudly") {
    val dir = tmp()
    build(dir)
    // an older build's value-keyed vector: reading past it would bring
    // its deleted rows back, so the scan must refuse the entry
    val m = ManifestTable.readManifest(dir).get
    val f = m.files.head
    Files.writeString(java.nio.file.Paths.get(dir, "data", "dv-old.gdv"),
      "0\n")
    ManifestTable.commitReplace(dir, m.version, Set(f.name),
      Seq(f.copy(stats =
        f.stats.copy(rest = f.stats.rest + ("#dv:k" -> ("dv-old.gdv", "1"))))))
    val df = spark.read.format(Fmt).option("path", dir).load()
    Seq[() => Any](() => df.collect(), () => df.count()).foreach { read =>
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains(f.name) &&
        e.getMessage.contains("older build"), e.getMessage)
    }
    // vacuum keeps the legacy sidecar, so an older build can compact it
    assert(!ManifestTable.vacuum(dir, graceMs = 0L).contains("dv-old.gdv"))
    assert(Files.exists(java.nio.file.Paths.get(dir, "data", "dv-old.gdv")))
  }

  test("a COW merge on a dv-carrying file reads through the merge (no resurrection)") {
    val dir = tmp()
    build(dir)
    CowOps.deleteMor(spark, dir, Seq(5L, 6L).toDF("k"), "k")
    // rewrite the file holding keys 0..19: deleted rows must NOT come
    // back, and the rewritten file carries no dv reference
    CowOps.merge(spark, dir, Seq((7L, "U7")).toDF("k", "s"), "k")
    val got = readAll(dir)
    assert(!got.contains(5L) && !got.contains(6L) && got(7L) == "U7" &&
      got.size == 98)
  }

  test("blooms survive a COW rewrite: config recovered from file stats (ADVICE r10)") {
    val dir = tmp()
    spark.range(0, 100).select(col("id").as("k"),
        concat(lit("v"), col("id")).as("s"))
      .repartitionByRange(5, col("k")).sortWithinPartitions("k")
      .write.format(Fmt).option("path", dir)
      .option("bloomColumns", "k").mode(SaveMode.Append).save()
    // every bloom, rewritten or not, is sized from its own file's rows
    def sizedPerFile(): Boolean =
      ManifestTable.readManifest(dir).get.files.forall(f =>
        f.stats.blooms.get("k").exists(b => GTabBloom.decode(b.words).length *
          64 == GTabBloom.bitsFor(f.rows)))
    assert(sizedPerFile())
    val r = CowOps.merge(spark, dir, Seq((5L, "U5")).toDF("k", "s"), "k")
    assert(r.filesRewritten == 1)
    val files = ManifestTable.readManifest(dir).get.files
    assert(files.forall(_.stats.blooms.contains("k")),
      "rewritten files must keep the table's bloom column")
    assert(sizedPerFile(), "rewritten blooms must be sized per file")
    // the rewritten file's bloom is live: a follow-up delete still
    // localizes to one file through it
    val r2 = CowOps.delete(spark, dir, Seq(5L).toDF("k"), "k")
    assert(r2.filesRewritten == 1 && r2.filesUntouched == 4)
  }
}
