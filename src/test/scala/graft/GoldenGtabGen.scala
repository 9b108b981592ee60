package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._

import graft.sources.{CowOps, ManifestTable}
import org.apache.spark.sql.functions.{col, concat, lit}

/** Writes the golden gtab fixture that `GoldenGtabSpec` round-trips.
  *
  * Main history (every file written by the engine itself): two appends of
  * 130 partition-valued files each (`partitionColumn` g, a bloom and an
  * NDV sketch on id), which spill into two metadata shards; a small
  * inline append; two merge-on-read deletes that chain two `#dvp`
  * sidecars on one file. Branch `audit` forks main and takes one append.
  *
  * Branch `legacy` forks main and its head is then rewritten by hand,
  * body CRC recomputed, to hold the forms current writers no longer
  * produce: the first shard root line without its census keys (`#pall`,
  * `#bloomcols`, `#ndvcols`), the second shard's `#bloomcols` with the
  * old bit-size field, one inline entry with a `#bloomrows` marker, one
  * with a value-keyed `#dv:id` vector (its sidecar `dv-old.gdv` is
  * written too), and one entry line without the column-count field.
  *
  * Data files are left out of the fixture (only metadata and deletion-
  * vector sidecars are copied): the spec reads manifests, not rows.
  *
  * Run: `sbt "Test/runMain graft.GoldenGtabGen src/test/resources/golden-gtab"`
  * (the target directory is replaced).
  */
object GoldenGtabGen {
  private val Fmt = "graft.sources.ManifestTable"

  def main(args: Array[String]): Unit = {
    val out = Paths.get(args.headOption.getOrElse(
      "src/test/resources/golden-gtab"))
    val spark = TestSpark.spark
    val dir = Files.createTempDirectory("golden-gtab").resolve("t").toString
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n).select(col("id"),
      (col("id") % 130).cast("int").as("g"),
      concat(lit("s"), col("id").cast("string")).as("s"),
      (col("id") / 4.0).as("x"))
    def append(df: org.apache.spark.sql.DataFrame, branch: String = "") = {
      val w = df.write.format(Fmt).option("path", dir)
        .option("partitionColumn", "g").option("bloomColumns", "id")
        .option("ndvColumns", "id").mode("append")
      (if (branch.isEmpty) w else w.option("branch", branch)).save()
    }
    append(rows(0, 260).coalesce(1))
    append(rows(260, 260).coalesce(1))
    append(rows(520, 6).coalesce(1))
    import spark.implicits._
    // ids 3 and 133 share the g = 3 file of the first append: a chain
    CowOps.deleteMor(spark, dir, Seq(3L).toDF("id"), "id")
    CowOps.deleteMor(spark, dir, Seq(133L).toDF("id"), "id")
    ManifestTable.createBranch(dir, "audit")
    append(rows(600, 4).coalesce(1), branch = "audit")
    val v = ManifestTable.createBranch(dir, "legacy")
    craftLegacy(dir, v)

    if (Files.exists(out)) deleteTree(out)
    val src = Paths.get(dir)
    val walk = Files.walk(src)
    try walk.iterator.asScala.filter(Files.isRegularFile(_)).foreach { p =>
      val rel = src.relativize(p)
      val name = p.getFileName.toString
      if (!name.startsWith(".") && !name.endsWith(".gtab")) {
        Files.createDirectories(out.resolve(rel).getParent)
        Files.copy(p, out.resolve(rel))
      }
    } finally walk.close()
    spark.stop()
  }

  /** Rewrite branch `legacy`'s head (pointer and snapshot) with the
    * legacy forms listed in the scaladoc above.
    */
  private def craftLegacy(dir: String, v: Long): Unit = {
    val pointer = Paths.get(dir, "_MANIFEST.blegacy")
    val raw = Files.readString(pointer)
    val ix = raw.indexOf('\n')
    val header = raw.substring(0, ix)
    val lines = raw.substring(ix + 1).split("\n", -1).toSeq
    val schemaCols = Seq("id", "g", "s", "x")
    var shardNo = 0
    var inlineNo = 0
    val crafted = lines.head +: lines.tail.map { l =>
      if (l.startsWith("@")) {
        shardNo += 1
        val (head, stats) = split(l)
        if (shardNo == 1) join(head, stats.filterNot(t =>
          Set("#pall", "#bloomcols", "#ndvcols").contains(t(0))))
        else join(head, stats.map(t =>
          if (t(0) == "#bloomcols") Seq(t(0), t(1), "1024") else t))
      } else if (l.nonEmpty) {
        inlineNo += 1
        val (head, stats) = split(l)
        inlineNo match {
          case 1 => join(head, stats :+ Seq("#bloomrows", "1", ""))
          case 2 =>
            Files.writeString(Paths.get(dir, "data", "dv-old.gdv"), "0\n")
            join(head, stats :+ Seq("#dv:id", "dv-old.gdv", "1"))
          case 3 =>
            require(head.drop(4) == schemaCols, s"not a full-schema entry: $l")
            join(head.take(3), stats)
          case _ => l
        }
      } else l
    }
    require(shardNo == 2 && inlineNo >= 3,
      s"expected two shards and three inline entries, got $shardNo/$inlineNo")
    val body = crafted.mkString("\n")
    val c = new CRC32; c.update(body.getBytes(StandardCharsets.UTF_8))
    val text = header.replaceAll(" crc=\\d+$", s" crc=${c.getValue}") +
      "\n" + body
    Files.writeString(pointer, text)
    Files.writeString(Paths.get(dir, s"_MANIFEST.blegacy.v$v"), text)
  }

  /** An entry line's leading fields (name, rows, crc, column count and
    * columns) and its stat triples.
    */
  private def split(l: String): (Seq[String], Seq[Seq[String]]) = {
    val p = l.split("\t", -1).toSeq
    val n = 4 + p(3).toInt
    (p.take(n), p.drop(n).grouped(3).toSeq)
  }

  /** Triples re-sorted by key, as every writer renders them. */
  private def join(head: Seq[String], stats: Seq[Seq[String]]): String =
    (head ++ stats.sortBy(_.head).flatten).mkString("\t")

  private def deleteTree(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.iterator.asScala.toList.reverse.foreach(Files.delete)
    finally walk.close()
  }
}
