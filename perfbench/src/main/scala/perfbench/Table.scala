package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{CowOps, ManifestTable}

/** `table`: writes beside reads on the engine's gtab table format —
  * seeded append batches (one commit each), bloom point lookups and
  * zone-map range reads, one copy-on-write merge upsert, one
  * merge-on-read delete and a compaction. Every read is checked against
  * an in-memory mirror that receives the same appends, merge and delete. */
final class Table(spark: SparkSession, a: Args) extends Workload {
  private val Fmt = "graft.sources.ManifestTable"
  private val Batches = 12
  private val MergeRound = 2
  private val DeleteRound = 4
  private val WarmAppends = 6
  private val WarmReads = 12

  // lineitem plus the unique key l_key; the table format takes no
  // TIMESTAMP columns, so l_shipdate is stored as epoch microseconds
  private val source = spark.read.parquet(a.data.resolve("lineitem.parquet")
      .toString)
    .withColumn("l_shipdate", unix_micros(col("l_shipdate").cast("timestamp")))
  private val schema = source.schema
  private val all: Array[Row] = source.orderBy("l_key").collect()
  private val n = all.length
  private val baseRows = n * 2 / 5
  private val batchRows = (n - baseRows + Batches - 1) / Batches
  private val keyIx = schema.fieldIndex("l_key")
  private val orderIx = schema.fieldIndex("l_orderkey")
  private val rnd = new scala.util.Random(a.seed)

  private var dir: Path = _
  private val mirror = mutable.LinkedHashMap[Long, Row]()
  private val rowsWritten = mutable.Map[String, Long]().withDefaultValue(0L)
  private var filesRewritten = 0.0
  private val tracedReadLive = ArrayBuffer[Double]()

  private def keyRange(lo: Long, hi: Long): DataFrame =
    source.filter(col("l_key") >= lo && col("l_key") < hi)

  private def write(df: DataFrame, mode: String, to: Path = dir): Unit =
    df.write.format(Fmt).option("path", to.toString)
      .option("bloomColumns", "l_orderkey").mode(mode).save()

  def setup(rep: Int): Unit = {
    dir = a.work.resolve(s"gtab-$rep")
    write(keyRange(0, baseRows).repartitionByRange(4, col("l_key")),
      "overwrite")
    mirror.clear()
    all.take(baseRows).foreach(r => mirror(r.getLong(keyIx)) = r)
  }

  private def table: DataFrame =
    spark.read.format(Fmt).option("path", dir.toString).load()

  private def manifest = ManifestTable.readManifest(dir.toString).get

  /** Bytes of the data files the current manifest lists. */
  private def liveBytes: Double =
    manifest.files.map(f =>
      Files.size(dir.resolve("data").resolve(f.name)).toDouble).sum

  private def sameRows(what: String, got: Seq[Row], want: Iterable[Row]) = {
    val g = got.sortBy(_.getLong(keyIx))
    val w = want.toSeq.sortBy(_.getLong(keyIx))
    if (g == w) None
    else Some(s"$what: ${g.size} rows, mirror has ${w.size}")
  }

  private def read(label: String, what: String, filter: org.apache.spark.sql.Column,
      want: Row => Boolean) = Op(label, () => {
    val traced = Tracer.tracing
    val got = Tracer.span(label.replace("sources.", "sources.ManifestTable.")) {
      table.filter(filter).collect().toSeq }
    () => {
      if (traced) tracedReadLive += liveBytes
      sameRows(what, got, mirror.values.filter(want))
    }
  })

  private def pointRead = {
    val keys = mirror.valuesIterator.map(_.getLong(orderIx)).toIndexedSeq
    val k = keys(rnd.nextInt(keys.size))
    read("sources.point_read", s"l_orderkey = $k", col("l_orderkey") === k,
      _.getLong(orderIx) == k)
  }

  private def rangeRead = {
    val width = math.max(1L, n / 100L)
    val lo = rnd.nextLong(n - width)
    read("sources.range_read", s"l_key in [$lo, ${lo + width})",
      col("l_key") >= lo && col("l_key") < lo + width,
      r => r.getLong(keyIx) >= lo && r.getLong(keyIx) < lo + width)
  }

  private def append(b: Int) = Op("sources.append", () => {
    val lo = baseRows + b.toLong * batchRows
    val hi = math.min(n.toLong, lo + batchRows)
    Tracer.span("sources.ManifestTable.append") {
      write(keyRange(lo, hi).repartition(1), "append") }
    rowsWritten("sources.append") += hi - lo
    () => {
      all.slice(lo.toInt, hi.toInt).foreach(r => mirror(r.getLong(keyIx)) = r)
      None
    }
  })

  /** Upserts 1% of the live rows (new quantity and price) plus 0.5% new
    * keys past the end of the key space. */
  private def merge = {
    val live = mirror.values.toIndexedSeq
    val updated = rnd.shuffle(live).take(n / 100).map { r =>
      val v = r.toSeq.toArray
      v(schema.fieldIndex("l_quantity")) = r.getDouble(schema.fieldIndex(
        "l_quantity")) + 1.0
      v(schema.fieldIndex("l_extendedprice")) = r.getDouble(
        schema.fieldIndex("l_extendedprice")) * 1.5
      Row.fromSeq(v.toSeq)
    }
    val fresh = live.take(n / 200).zipWithIndex.map { case (r, i) =>
      val v = r.toSeq.toArray
      v(keyIx) = n.toLong + i
      Row.fromSeq(v.toSeq)
    }
    val rows = updated ++ fresh
    val updates = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    Op("sources.merge", () => {
      val res = Tracer.span("sources.CowOps.merge") {
        CowOps.merge(spark, dir.toString, updates, "l_key") }
      rowsWritten("sources.merge") += rows.size
      filesRewritten += res.filesRewritten
      () => { rows.foreach(r => mirror(r.getLong(keyIx)) = r); None }
    })
  }

  private def delete = {
    val keys = rnd.shuffle(mirror.keys.toIndexedSeq).take(n / 100)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      keys.map(k => Row(k)), 1), org.apache.spark.sql.types.StructType(
      Seq(schema("l_key"))))
    Op("sources.delete", () => {
      val res = Tracer.span("sources.CowOps.deleteMor") {
        CowOps.deleteMor(spark, dir.toString, df, "l_key") }
      rowsWritten("sources.delete") += keys.size
      filesRewritten += res.filesRewritten
      () => { keys.foreach(mirror.remove); None }
    })
  }

  /** Appends a batch to the first set-up's table, which the rounds do
    * not read: the first appends of a JVM are slower while the write path
    * compiles, and would otherwise set the latency tail. */
  private def warmAppend(b: Int) = Op("sources.append", () => {
    val lo = baseRows + b.toLong * batchRows
    write(keyRange(lo, math.min(n.toLong, lo + batchRows)).repartition(1),
      "append", a.work.resolve("gtab-0"))
    () => None
  })

  /** Reads keep getting faster over their first ten or so runs in a JVM. */
  def warmup: Seq[Op] = Seq.fill(WarmReads)(Seq(pointRead, rangeRead)).flatten ++
    (0 until WarmAppends).map(warmAppend)

  def round(r: Int): Seq[Op] =
    if (r >= Batches) Nil
    else Seq(append(r), pointRead, rangeRead, pointRead, rangeRead) ++
      (if (r == MergeRound) Seq(merge) else Nil) ++
      (if (r == DeleteRound) Seq(delete) else Nil)

  def roundSeconds: Double = 1.6
  override def minRounds: Int = DeleteRound + 1

  override def tail: Seq[Op] = Seq(
    Op("sources.compact", () => {
      val (before, _) = Tracer.span("sources.ManifestTable.compact") {
        ManifestTable.compact(spark, dir.toString, targetFiles = 4,
          clusterBy = Seq("l_key")) }
      filesRewritten += before
      () => sameRows("full scan after compact", table.collect().toSeq,
        mirror.values)
    }), pointRead, rangeRead)

  override def layer(ops: Seq[OpRec], traced: Seq[OpStats]): Map[String, Double] = {
    def lat(l: String) = ops.filter(_.label == l).map(_.seconds)
    val reads = lat("sources.point_read") ++ lat("sources.range_read")
    val writes = Seq("sources.append", "sources.merge", "sources.delete")
    val m = manifest
    val manifestBytes = (Files.size(Path.of(ManifestTable.manifestPath(
      dir.toString))) +: m.shards.map(s => Files.size(dir.resolve("meta")
      .resolve(s.name)))).sum.toDouble
    val tracedReads = traced.filter(o => o.label == "sources.point_read" ||
      o.label == "sources.range_read")
    Map(
      "sources.append_s" -> Stats.median(lat("sources.append")),
      "sources.commit_ms" -> Layers.mean(traced.filter(_.label ==
        "sources.append").map(o => o.endMs - o.lastJobEndMs)),
      "sources.merge_s" -> lat("sources.merge").sum,
      "sources.delete_s" -> lat("sources.delete").sum,
      "sources.compact_s" -> lat("sources.compact").sum,
      "sources.files_rewritten" -> filesRewritten,
      "sources.point_read_s" -> Stats.median(lat("sources.point_read")),
      "sources.range_read_s" -> Stats.median(lat("sources.range_read")),
      "sources.read_bytes_frac" -> tracedReads.map(_.scanBytes).sum /
        math.max(1.0, tracedReadLive.sum),
      "sources.live_files" -> m.nFiles.toDouble,
      "sources.manifest_bytes" -> manifestBytes,
      "write_rows_s" -> writes.map(rowsWritten).sum.toDouble /
        writes.flatMap(lat).sum,
      "read_latency_p50_s" -> Stats.quantile(reads, 0.5),
      "read_latency_p90_s" -> Stats.quantile(reads, 0.9),
      "storage_bytes_per_row" -> (liveBytes + manifestBytes) /
        math.max(1, mirror.size))
  }
}
