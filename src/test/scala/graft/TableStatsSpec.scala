package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ManifestTable

/** DSv2 statistics report (`SupportsReportStatistics`): the manifest's
  * recorded per-file byte counts (`#sz`) and live row counts reach the
  * optimizer. Without the report Spark costs every DSv2 relation at
  * `spark.sql.defaultSizeInBytes` (Long.MaxValue), so a join against
  * even a 1 KB gtab could never auto-broadcast — the report is what
  * lets the planner pick a broadcast hash join for a small dimension
  * gtab instead of shuffling both sides.
  */
class TableStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Fmt = "graft.sources.ManifestTable"
  private def tmp(): String =
    Files.createTempDirectory("graft_stats").toString

  private def read(dir: String): DataFrame =
    spark.read.format(Fmt).option("path", dir).load()

  private def dataBytes(dir: String): Long =
    Option(new java.io.File(dir + "/data").listFiles())
      .map(_.filter(_.getName.endsWith(".gtab")).map(_.length()).sum)
      .getOrElse(0L)

  test("sizeInBytes matches the data files exactly; rowCount is exact") {
    val dir = tmp()
    (0 until 500).map(i => (i.toLong, s"name-$i", i * 1.5))
      .toDF("id", "s", "x")
      .repartition(3)
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val st = read(dir).queryExecution.optimizedPlan.stats
    assert(st.sizeInBytes == BigInt(dataBytes(dir)),
      s"full-projection sizeInBytes must equal the recorded file bytes " +
        s"(${dataBytes(dir)}), got ${st.sizeInBytes}")
    assert(st.rowCount.contains(BigInt(500)))
  }

  test("column pruning scales the byte estimate down") {
    val dir = tmp()
    (0 until 400)
      .map(i => (i.toLong, "x" * 50, i * 1.0, s"tag-$i"))
      .toDF("id", "pad", "x", "tag")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val full = read(dir).queryExecution.optimizedPlan.stats.sizeInBytes
    val slim = read(dir).select("id")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(slim < full,
      s"a 1-of-4-column projection must cost less than the full scan " +
        s"($slim vs $full)")
  }

  test("file pruning shrinks the report: a skipped file's bytes drop out") {
    val dir = tmp()
    // range-clustered: two files with disjoint id ranges
    (0 until 1000).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .repartitionByRange(2, col("id")).sortWithinPartitions("id")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val all = read(dir).queryExecution.optimizedPlan.stats
    val half = read(dir).filter(col("id") < 100)
      .queryExecution.optimizedPlan.stats
    assert(half.sizeInBytes < all.sizeInBytes,
      "zone-map file pruning must be visible in the statistics report")
  }

  test("small gtab auto-broadcasts against a large side without hints") {
    val dir = tmp()
    (0 until 50).map(i => (i.toLong, s"dim-$i")).toDF("k", "label")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    // big side: ~16 MB by Spark's own range estimate — above the 10 MB
    // autoBroadcastJoinThreshold, so only the gtab side is eligible
    val big = spark.range(2000000).select(col("id") % 50 as "k")
    val j = big.join(read(dir), "k")
    val plan = j.queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"statistics report must enable the auto-broadcast:\n$plan")
    assert(j.count() == 2000000L)
  }

  test("legacy entries without #sz fall back to a row-based estimate") {
    val dir = tmp()
    (0 until 100).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val m = ManifestTable.readManifest(dir).get
    // simulate a pre-round-13 manifest: strip the byte sizes
    val stripped = m.files.map(f => f.copy(stats = f.stats.copy(size = None)))
    ManifestTable.commitVersion(dir, m.schema, Nil, keepPrevious = false)
    ManifestTable.commitVersion(dir, m.schema, stripped,
      keepPrevious = false)
    val st = read(dir).queryExecution.optimizedPlan.stats
    assert(st.rowCount.contains(BigInt(100)))
    assert(st.sizeInBytes > 0 && st.sizeInBytes < BigInt(Long.MaxValue) / 2,
      s"legacy estimate must be finite and positive, got ${st.sizeInBytes}")
  }

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("KMV NDV sketches reach attributeStats; sub-k merges are exact") {
    val dir = tmp()
    (0 until 5000).map(i => (i.toLong, (i % 7).toLong, s"s${i % 40}"))
      .toDF("id", "seven", "s")
      .repartition(4)
      .write.format(Fmt).option("path", dir)
      .option("ndvColumns", "id,seven,s").mode(SaveMode.Append).save()
    val st = read(dir).queryExecution.optimizedPlan.stats
    val byName = st.attributeStats.toSeq
      .map { case (a, cs) => a.name -> cs }.toMap
    // 7 and 40 distinct values across 4 files: below k=64, the union of
    // per-file hash sets is EXACT — no estimator error at all
    assert(byName("seven").distinctCount.contains(BigInt(7)),
      s"got ${byName.get("seven").flatMap(_.distinctCount)}")
    assert(byName("s").distinctCount.contains(BigInt(40)))
    // 5000 distinct ids: the (k-1)/u_k estimator with k=64 has
    // ~13% stddev — assert a generous 2.5-sigma envelope
    val idNdv = byName("id").distinctCount.get.toLong
    assert(idNdv > 3400 && idNdv < 7000,
      s"NDV(id) estimate $idNdv outside the k=64 envelope for 5000")
  }

  test("NDV sketches survive COW rewrites and compaction") {
    val dir = tmp()
    (0 until 2000).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.format(Fmt).option("path", dir)
      .option("ndvColumns", "id").mode(SaveMode.Append).save()
    graft.sources.CowOps.merge(spark, dir,
      Seq((5L, "upd")).toDF("id", "s"), "id")
    def idNdv: Option[BigInt] = read(dir).queryExecution.optimizedPlan
      .stats.attributeStats.toSeq.collectFirst {
        case (a, cs) if a.name == "id" => cs }.flatMap(_.distinctCount)
    assert(idNdv.isDefined, "COW rewrite must re-sketch NDV")
    ManifestTable.compact(spark, dir, 2, clusterBy = Seq("id"))
    assert(idNdv.exists(n => n.toLong > 1400 && n.toLong < 2800),
      s"post-compaction NDV must survive and stay in envelope: $idNdv")
  }

  test("a 3-table join reorders on NDV cardinality under CBO") {
    val (dBig, dMid, dSmall) = (tmp(), tmp(), tmp())
    def land(df: DataFrame, dir: String): Unit =
      df.write.format(Fmt).option("path", dir)
        .option("ndvColumns", "k").mode(SaveMode.Append).save()
    land(spark.range(20000).select((col("id") % 1000).as("k"),
      col("id").as("payload")), dBig)
    land(spark.range(1000).select(col("id").as("k"),
      (col("id") * 2).as("mv")), dMid)
    land(spark.range(10).select(col("id").as("k"),
      (col("id") * 3).as("sv")), dSmall)
    withConf(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.cbo.joinReorder.enabled" -> "true",
      // isolate LOGICAL join-order selection from physical strategy
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = read(dBig).join(read(dMid), "k").join(read(dSmall), "k")
        .agg(sum("payload").as("sp"), sum("mv").as("sm"),
          sum("sv").as("sv"))
      val plan = j.queryExecution.optimizedPlan.toString
      // with NDV stats, CBO joins big x small FIRST (10/1000 of the
      // rows survive) instead of the written order big x mid x small
      val iMid = plan.indexOf(dMid)
      val iSmall = plan.indexOf(dSmall)
      assert(iMid >= 0 && iSmall >= 0)
      assert(iSmall < iMid,
        s"CBO must reorder the selective small dim first:\n$plan")
      val r = j.collect().head
      // exact check: every big row with k < 10 joins both dims
      assert(r.getLong(2) == (0 until 10).map(_ * 3L).sum * 20)
    }
  }

  test("merged zone maps surface as optimizer min/max column stats") {
    val dir = tmp()
    (0 until 1000).map(i => (i.toLong, i * 0.5, s"r$i"))
      .toDF("id", "x", "s")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    // read the SCAN RELATION's own stats (default non-CBO propagation
    // drops attributeStats above the leaf)
    def statsOf(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2ScanRelation => r.stats.attributeStats.toSeq
    }.flatten.map { case (a, cs) => a.name -> cs }.toMap
    val full = statsOf(read(dir))
    assert(full("id").min.contains(0L) && full("id").max.contains(999L))
    assert(full("x").min.contains(0.0) && full("x").max.contains(499.5))
    assert(!full.contains("s"), "strings have no zone maps, no bounds")
    // bounds are POST-pruning, like every other stat the scan reports
    val pruned = statsOf(read(dir).filter(col("id") >= 500))
    assert(pruned("id").min.exists(_.asInstanceOf[Long] >= 250L),
      s"pruned-scan min must tighten: ${pruned("id").min}")
  }

  test("CALL analyze_ndv retrofits sketches without rewriting files") {
    val wh = tmp()
    spark.conf.set("spark.sql.catalog.gan", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gan.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gan.db")
    spark.sql("CREATE TABLE gan.db.t (id BIGINT, g INT, s STRING)")
    (0 until 3000).map(i => (i.toLong, i % 11, s"v${i % 123}"))
      .toDF("id", "g", "s").repartition(4)
      .createOrReplaceTempView("an_src")
    spark.sql("INSERT INTO gan.db.t SELECT * FROM an_src")
    val dir = s"$wh/db/t"
    def ndvOf(name: String): Option[BigInt] =
      spark.sql("SELECT * FROM gan.db.t").queryExecution.optimizedPlan
        .stats.attributeStats.toSeq.collectFirst {
          case (a, cs) if a.name == name => cs }.flatMap(_.distinctCount)
    assert(ndvOf("id").isEmpty, "no sketches before analyze")
    val filesBefore = ManifestTable.readManifest(dir).get.files
      .map(f => f.name -> f.crc).toMap
    val out = spark.sql(
      "CALL gan.system.analyze_ndv(table => 'db.t', " +
        "columns => 'id,g,s')").head()
    assert(out.getInt(0) == filesBefore.size)
    // metadata-only: same files, same bytes
    val after = ManifestTable.readManifest(dir).get.files
    assert(after.map(f => f.name -> f.crc).toMap == filesBefore)
    // sub-k columns exact; above-k columns inside the estimator
    // envelope (123 and 3000 distinct vs k=64)
    assert(ndvOf("g").contains(BigInt(11)))
    assert(ndvOf("s").exists(n => n.toLong > 80 && n.toLong < 180),
      s"got ${ndvOf("s")}")
    assert(ndvOf("id").exists(n => n.toLong > 2000 && n.toLong < 4500),
      s"got ${ndvOf("id")}")
    // the retrofit merges consistently with writer-produced sketches:
    // an ndvColumns append extends the census instead of breaking it
    (3000 until 3500).map(i => (i.toLong, i % 11, s"v${i % 123}"))
      .toDF("id", "g", "s")
      .write.format(Fmt).option("path", dir)
      .option("ndvColumns", "id,g,s").mode("append").save()
    assert(ndvOf("g").contains(BigInt(11)))
    assert(ndvOf("id").exists(n => n.toLong > 2300 && n.toLong < 5300))
  }

  test("deletion vectors lower the reported live row count") {
    val dir = tmp()
    (0 until 200).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    graft.sources.CowOps.deleteMor(spark, dir,
      spark.range(0, 200, 4).select(col("id")), "id")
    val st = read(dir).queryExecution.optimizedPlan.stats
    assert(st.rowCount.contains(BigInt(150)),
      s"150 live rows after the MOR delete, got ${st.rowCount}")
  }

  test("a MOR delete of keys that match no row leaves the row estimate exact") {
    val dir = tmp()
    (0 until 200).map(i => (i.toLong * 2, s"r$i")).toDF("id", "s")
      .write.format(Fmt).option("path", dir).mode(SaveMode.Append).save()
    val v0 = ManifestTable.readManifest(dir).get.version
    def rowCount = read(dir).queryExecution.optimizedPlan.stats.rowCount
    // odd keys inside the zone map: every file is a candidate, no row
    // matches, and nothing is published
    val miss = graft.sources.CowOps.deleteMor(spark, dir,
      spark.range(1, 400, 2).select(col("id")), "id")
    assert(miss.version == v0 &&
      ManifestTable.readManifest(dir).get.version == v0)
    assert(rowCount.contains(BigInt(200)), s"got $rowCount")
    // hits and misses together: the vectors count only the hits
    graft.sources.CowOps.deleteMor(spark, dir,
      spark.range(0, 400, 3).select(col("id")), "id")
    val live = read(dir).count()
    assert(live == 200 - (0 until 400 by 6).size)
    assert(rowCount.contains(BigInt(live)), s"$live live rows, got $rowCount")
  }
}
