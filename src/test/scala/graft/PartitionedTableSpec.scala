package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ManifestTable

/** Partitioned manifest tables: a `partitionColumn` write declares a
  * clustered distribution + sort (RequiresDistributionAndOrdering), each
  * task rolls one single-valued file per value run and records the value
  * under the reserved `#part:` key, and the scan reports the layout as a
  * KeyGroupedPartitioning — which is what unlocks the
  * STORAGE-PARTITIONED JOIN (zero shuffle exchanges between two gtabs
  * partitioned on the same column) and EXACT partition pruning on
  * equality/IN/null predicates, including STRING columns that zone maps
  * deliberately exclude.
  */
class PartitionedTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Fmt = "graft.sources.ManifestTable"
  private def tmp(): String =
    Files.createTempDirectory("graft_ptab").toString

  private def read(dir: String): DataFrame =
    spark.read.format(Fmt).option("path", dir).load()

  private def writePart(df: DataFrame, dir: String, col: String,
      mode: SaveMode = SaveMode.Append): Unit =
    df.write.format(Fmt).option("path", dir)
      .option("partitionColumn", col).mode(mode).save()

  private def noBroadcast[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("round-trip: every file is single-valued on the partition column") {
    val dir = tmp()
    val df = (0 until 300).map(i => (i.toLong, i % 7, s"r$i"))
      .toDF("id", "g", "s")
    writePart(df, dir, "g")
    val back = read(dir)
    assert(back.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
    val m = ManifestTable.readManifest(dir).get
    assert(m.files.nonEmpty)
    m.files.foreach { f =>
      assert(f.stats.parts.contains("g"), s"${f.name} lacks a value for g")
    }
    // 7 groups, each value in its own file set
    assert(m.files.map(_.stats.parts("g")).distinct.sorted ==
      (0 until 7).map(_.toString).sorted)
  }

  test("storage-partitioned join: zero shuffle exchanges, exact answers") {
    val dirA = tmp(); val dirB = tmp()
    writePart((0 until 400).map(i => (i.toLong, i % 11))
      .toDF("a_id", "g"), dirA, "g")
    writePart((0 until 200).map(i => (i.toLong, i % 11))
      .toDF("b_id", "g"), dirB, "g")
    noBroadcast {
      val j = read(dirA).join(read(dirB), "g")
        .groupBy("g").agg(count(lit(1)).as("n"),
          sum(col("a_id") + col("b_id")).as("sid"))
      val got = j.collect().map(r =>
        r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val a = (0 until 400).groupBy(_ % 11)
      val b = (0 until 200).groupBy(_ % 11)
      val exp = a.keySet.intersect(b.keySet).map { g =>
        val pairs = for (x <- a(g); y <- b(g)) yield (x + y).toLong
        g -> ((pairs.size.toLong, pairs.sum))
      }.toMap
      assert(got == exp)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"storage-partitioned join must not shuffle either side:\n$plan")
    }
  }

  test("partition-grouped aggregation rides the layout exchange-free") {
    val dir = tmp()
    writePart((0 until 500).map(i => (i.toLong, s"seg-${i % 5}"))
      .toDF("id", "seg"), dir, "seg")
    val agg = read(dir).groupBy("seg").agg(count(lit(1)).as("n"))
    assert(agg.as[(String, Long)].collect().toMap ==
      (0 until 5).map(g => s"seg-$g" -> 100L).toMap)
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("exact partition pruning on a STRING column (zone maps can't)") {
    val dir = tmp()
    writePart((0 until 300).map(i => (i.toLong, s"lang-${i % 3}"))
      .toDF("id", "lang"), dir, "lang")
    val one = read(dir).filter(col("lang") === "lang-1")
    assert(one.count() == 100)
    val desc = one.queryExecution.executedPlan.toString
    val m = ManifestTable.readManifest(dir).get
    val matching = m.files.count(_.stats.parts("lang") == "lang-1")
    assert(desc.contains(s"files=$matching/${m.files.size}"),
      s"expected files=$matching/${m.files.size} in:\n$desc")
    // IN prunes too
    val in = read(dir).filter(col("lang").isin("lang-0", "lang-2"))
    assert(in.count() == 200)
    assert(in.queryExecution.executedPlan.toString
      .contains(s"files=${m.files.size - matching}/${m.files.size}"))
  }

  test("null partition values group, prune, and round-trip") {
    val dir = tmp()
    val df = (0 until 90).map { i =>
      (i.toLong, if (i % 3 == 0) null else s"g${i % 3}")
    }.toDF("id", "g")
    writePart(df, dir, "g")
    assert(read(dir).filter(col("g").isNull).count() == 30)
    assert(read(dir).filter(col("g").isNotNull).count() == 60)
    val m = ManifestTable.readManifest(dir).get
    val nullFiles = m.files.count(_.stats.parts("g") == "\\N")
    assert(nullFiles > 0, "null rows must land in their own file(s)")
    val pruned = read(dir).filter(col("g").isNull)
      .queryExecution.executedPlan.toString
    assert(pruned.contains(s"files=$nullFiles/${m.files.size}"))
    assert(read(dir).orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
  }

  test("an unpartitioned append degrades the layout report, never answers") {
    val dir = tmp()
    writePart((0 until 100).map(i => (i.toLong, i % 4)).toDF("id", "g"),
      dir, "g")
    assert(ManifestTable.partitionColumnsOf(
      ManifestTable.readManifest(dir).get) == Seq("g"))
    // plain append: no #part key on the new file
    (100 until 120).map(i => (i.toLong, i % 4)).toDF("id", "g")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    assert(ManifestTable.partitionColumnsOf(
      ManifestTable.readManifest(dir).get).isEmpty)
    assert(read(dir).count() == 120)
    // joining after degradation still answers exactly (shuffle plan)
    noBroadcast {
      val j = read(dir).groupBy("g").agg(count(lit(1)).as("n"))
      assert(j.as[(Int, Long)].collect().toMap ==
        Map(0 -> 30L, 1 -> 30L, 2 -> 30L, 3 -> 30L))
    }
  }

  test("mismatched layouts cannot co-partition: falls back, stays exact") {
    val dirA = tmp(); val dirB = tmp()
    writePart((0 until 100).map(i => (i.toLong, i % 4)).toDF("id", "g"),
      dirA, "g")
    // B partitioned on a DIFFERENT column name/join key
    writePart((0 until 100).map(i => (i.toLong, i % 4)).toDF("bid", "h"),
      dirB, "h")
    noBroadcast {
      val j = read(dirA).join(read(dirB), col("id") === col("bid"))
        .select(count(lit(1)).as("n"))
      assert(j.as[Long].head() == 100L)
      assert(j.queryExecution.executedPlan.toString.contains("Exchange"))
    }
  }

  test("COW and MOR row-level ops preserve the partitioned layout") {
    val dir = tmp()
    writePart((0 until 200).map(i => (i.toLong, i % 5)).toDF("id", "g"),
      dir, "g")
    def pcol = ManifestTable.partitionColumnsOf(
      ManifestTable.readManifest(dir).get).headOption
    // COW merge: rewritten + inserted files must keep #part
    graft.sources.CowOps.merge(spark, dir,
      (0 until 10).map(i => (i.toLong * 20, (i.toLong * 20 % 5).toInt))
        .toDF("id", "g"), "id")
    assert(pcol.contains("g"), "merge must keep the layout report")
    // COW delete
    graft.sources.CowOps.delete(spark, dir,
      spark.range(0, 200, 7).select(col("id")), "id")
    assert(pcol.contains("g"), "delete must keep the layout report")
    // MOR delete: untouched entries keep their stats by construction
    graft.sources.CowOps.deleteMor(spark, dir,
      spark.range(1, 200, 13).select(col("id")), "id")
    assert(pcol.contains("g"), "MOR delete must keep the layout report")
    // correctness through it all
    val expected = (0 until 200).map(_.toLong)
      .filter(i => i % 7 != 0 && !(i % 13 == 1)).toSet
    assert(read(dir).select("id").as[Long].collect().toSet == expected)
  }

  test("compaction preserves partitioning; the SPJ survives the rewrite") {
    val dirA = tmp(); val dirB = tmp()
    // several appends → multiple files per value
    (0 until 3).foreach { k =>
      writePart((0 until 100).map(i => (k * 100L + i, i % 4))
        .toDF("id", "g"), dirA, "g")
    }
    writePart((0 until 80).map(i => (i.toLong, i % 4)).toDF("bid", "g"),
      dirB, "g")
    val filesBefore = ManifestTable.readManifest(dirA).get.files.size
    val (b, a) = ManifestTable.compact(spark, dirA, targetFiles = 4)
    assert(b == filesBefore && a < b,
      s"compaction must shrink the file count ($b -> $a)")
    assert(ManifestTable.partitionColumnsOf(
      ManifestTable.readManifest(dirA).get) == Seq("g"))
    noBroadcast {
      val j = read(dirA).join(read(dirB), "g")
        .groupBy("g").agg(count(lit(1)).as("n"))
      assert(j.as[(Int, Long)].collect().toMap ==
        (0 until 4).map(g => g -> (75L * 20L)).toMap)
      assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
        "the storage-partitioned join must survive compaction")
    }
    // an explicit DIFFERENT clustering is a layout switch: report off
    ManifestTable.compact(spark, dirA, targetFiles = 2,
      clusterBy = Seq("id"))
    assert(ManifestTable.partitionColumnsOf(
      ManifestTable.readManifest(dirA).get).isEmpty)
    assert(read(dirA).count() == 300)
  }

  test("multi-column partitioning: tuple groups, tuple SPJ, per-col pruning") {
    val dirA = tmp(); val dirB = tmp()
    def mk(n: Int) = (0 until n).map(i =>
      (i.toLong, i % 3, s"h${i % 2}")).toDF("id", "d", "h")
    mk(240).write.format(Fmt).option("path", dirA)
      .option("partitionColumn", "d,h").mode(SaveMode.Append).save()
    mk(120).select(col("id").as("bid"), col("d"), col("h"))
      .write.format(Fmt).option("path", dirB)
      .option("partitionColumn", "d,h").mode(SaveMode.Append).save()
    val m = ManifestTable.readManifest(dirA).get
    assert(ManifestTable.partitionColumnsOf(m) == Seq("d", "h"))
    m.files.foreach { f =>
      assert(f.stats.parts.contains("d") && f.stats.parts.contains("h"))
    }
    // per-column pruning composes: (d=1, h='h0') keeps 1 of 6 groups
    val one = read(dirA).filter(col("d") === 1 && col("h") === "h0")
    assert(one.count() == 40)
    val matching = m.files.count(f =>
      f.stats.parts("d") == "1" && f.stats.parts("h") == "h0")
    assert(one.queryExecution.executedPlan.toString
      .contains(s"files=$matching/${m.files.size}"))
    // tuple SPJ: join on BOTH partition columns plans exchange-free
    noBroadcast {
      val j = read(dirA).join(read(dirB), Seq("d", "h"))
        .groupBy("d", "h").agg(count(lit(1)).as("n"))
      val got = j.collect()
        .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      val exp = (for (d <- 0 until 3; h <- 0 until 2) yield {
        val a = (0 until 240).count(i => i % 3 == d && i % 2 == h)
        val b = (0 until 120).count(i => i % 3 == d && i % 2 == h)
        (d, s"h$h") -> (a.toLong * b)
      }).toMap
      assert(got == exp)
      assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
        "the two-column storage-partitioned join must plan exchange-free")
    }
  }

  test("doubles are rejected as partition columns") {
    val dir = tmp()
    val e = intercept[Exception] {
      writePart(Seq((1L, 0.5)).toDF("id", "x"), dir, "x")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("partitionColumn")))
  }
}
