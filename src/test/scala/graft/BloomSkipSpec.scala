package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{GTabBloom, ManifestTable}

/** Per-file bloom point-lookup skipping (q90): on a hash-scattered
  * layout — where zone maps cannot prune anything — equality and IN
  * predicates on bloomed columns (including STRINGS, which zone maps
  * exclude by design) skip files at the manifest level; answers are
  * always exact because a bloom positive only ever KEEPS a file.
  */
class BloomSkipSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Fmt = "graft.sources.ManifestTable"
  private def tmp(): String =
    Files.createTempDirectory("graft_bloom").toString

  /** 4000 rows hash-scattered over 8 files: every file's id range spans
    * ~the whole table, so zone maps are useless by construction.
    */
  private def build(dir: String, bloom: String = "id,s"): Unit =
    spark.range(0, 4000).select($"id", concat(lit("name-"), $"id").as("s"),
        ($"id" % 97).as("grp"))
      .repartition(8, $"id")
      .write.format(Fmt).option("path", dir)
      .option("bloomColumns", bloom)
      .mode(SaveMode.Append).save()

  private def filesRead(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    val m = "files=(\\d+)/(\\d+)".r
      .findFirstMatchIn(df.queryExecution.executedPlan.toString)
    (m.get.group(1).toInt, m.get.group(2).toInt)
  }

  test("long equality and IN prune a hash-scattered table; zone maps alone cannot") {
    val dir = tmp()
    build(dir)
    val m = ManifestTable.readManifest(dir).get
    assert(m.files.size == 8)
    // zone maps exist but overlap: every file spans most of [0, 3999]
    assert(m.files.forall(f => f.stats.zones("id").hi.toLong -
      f.stats.zones("id").lo.toLong > 3000))
    val eq = spark.read.format(Fmt).option("path", dir).load()
      .filter($"id" === 1234L)
    assert(eq.count() == 1)
    val (readEq, totEq) = filesRead(eq)
    assert(totEq == 8 && readEq <= 2,
      s"bloom must prune a point lookup to ~1 file, read $readEq/8")
    val in = spark.read.format(Fmt).option("path", dir).load()
      .filter($"id".isin(5L, 600L, 3999L))
    assert(in.count() == 3)
    assert(filesRead(in)._1 <= 4)
  }

  test("STRING equality prunes — the zone-map-impossible case") {
    val dir = tmp()
    build(dir)
    val df = spark.read.format(Fmt).option("path", dir).load()
      .filter($"s" === "name-77")
    assert(df.count() == 1)
    assert(filesRead(df)._1 <= 2)
    // a value present nowhere: definite miss in (almost surely) all files
    val none = spark.read.format(Fmt).option("path", dir).load()
      .filter($"s" === "absent-value")
    assert(none.count() == 0)
    assert(filesRead(none)._1 <= 1)
  }

  test("non-bloomed columns and range predicates never consult blooms; answers stay exact") {
    val dir = tmp()
    build(dir, bloom = "id")
    val byGrp = spark.read.format(Fmt).option("path", dir).load()
      .filter($"grp" === 42)
    assert(byGrp.count() == 4000 / 97 + (if (42 < 4000 % 97) 1 else 0))
    assert(filesRead(byGrp)._1 == 8) // no bloom on grp: nothing prunes
    val range = spark.read.format(Fmt).option("path", dir).load()
      .filter($"id" >= 100L && $"id" < 200L)
    assert(range.count() == 100) // ranges use zone maps only (useless here)
    assert(filesRead(range)._1 == 8)
  }

  test("blooms survive compaction (round-14 rule); plain overwrite drops them") {
    val dir = tmp()
    build(dir)
    // compaction is MAINTENANCE: it must not silently strip the
    // skipping structures the table paid for (CowOps' preservation
    // rule, extended to compact in round 14)
    ManifestTable.compact(spark, dir, targetFiles = 2)
    val m = ManifestTable.readManifest(dir).get
    assert(m.files.forall(_.stats.blooms.nonEmpty),
      "compaction must carry the table's blooms through the rewrite")
    assert(spark.read.format(Fmt).option("path", dir).load()
      .filter($"id" === 1234L).count() == 1)
    // a USER overwrite without the option is an explicit layout choice
    // and does drop them
    spark.read.format(Fmt).option("path", dir).load()
      .write.format(Fmt).option("path", dir).mode("overwrite").save()
    val m2 = ManifestTable.readManifest(dir).get
    assert(m2.files.forall(f =>
      !f.stats.blooms.nonEmpty))
  }

  test("blooms sized per file keep 3,000-row files prunable") {
    val dir = tmp()
    spark.range(0, 24000).select($"id", concat(lit("name-"), $"id").as("s"))
      .repartition(8, $"id")
      .write.format(Fmt).option("path", dir)
      .option("bloomColumns", "id").mode(SaveMode.Append).save()
    val m = ManifestTable.readManifest(dir).get
    assert(m.files.size == 8 && m.files.forall(_.rows > 2500))
    // 10+ bits per row: a 3,000-row file gets 32,768 bits, not 4,096
    assert(m.files.forall(f =>
      GTabBloom.decode(f.stats.blooms("id").words).length * 64 ==
        GTabBloom.bitsFor(f.rows)))
    Seq(7L, 1234L, 9999L, 17000L, 23999L).foreach { k =>
      val eq = spark.read.format(Fmt).option("path", dir).load()
        .filter($"id" === k)
      assert(eq.count() == 1)
      val (read, total) = filesRead(eq)
      assert(total == 8 && read <= 2, s"key $k read $read/8 files")
    }
  }

  test("a folded bloom is the bloom built at the smaller size") {
    val rnd = new scala.util.Random(3)
    val keys = Seq.fill(500)(rnd.nextLong())
    def built(bits: Int) = {
      val w = new Array[Long](bits / 64)
      keys.foreach(graft.functions.BloomUtil.set(w, _, GTabBloom.NumHashes))
      w.toSeq
    }
    val big = built(GTabBloom.MaxBits).toArray
    Seq(64, 1024, 8192, GTabBloom.MaxBits).foreach(bits =>
      assert(GTabBloom.fold(big, bits).toSeq == built(bits)))
    assert(GTabBloom.bitsFor(0) == 64 && GTabBloom.bitsFor(3000) == 32768 &&
      GTabBloom.bitsFor(6553) == 65536 && GTabBloom.bitsFor(10L << 20) ==
        GTabBloom.MaxBits)
  }

  test("rewrites size their blooms per file too") {
    val dir = tmp()
    build(dir, bloom = "id")
    ManifestTable.compact(spark, dir, targetFiles = 2)
    val m = ManifestTable.readManifest(dir).get
    assert(m.files.size == 2 && m.files.forall(f =>
      GTabBloom.decode(f.stats.blooms("id").words).length * 64 ==
        GTabBloom.bitsFor(f.rows)))
    assert(graft.sources.CowOps.censusColumns(m)._1 == Seq("id"))
  }

  test("write-time validation: unknown column and unsupported type fail fast") {
    val dir = tmp()
    intercept[Exception] {
      spark.range(3).select($"id", ($"id" * 0.5).as("x"))
        .write.format(Fmt).option("path", dir)
        .option("bloomColumns", "nope").mode(SaveMode.Append).save()
    }
    intercept[Exception] {
      spark.range(3).select($"id", ($"id" * 0.5).as("x"))
        .write.format(Fmt).option("path", dir)
        .option("bloomColumns", "x").mode(SaveMode.Append).save()
    }
  }
}
