package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._

import graft.sources.{CowOps, ManifestCodec, ManifestTable}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** The manifest codec against a committed table directory written by an
  * earlier build (`GoldenGtabGen` writes it; its scaladoc lists what the
  * history holds). Every root, snapshot and shard file decodes into
  * typed entries and encodes back byte for byte. Two legacy forms do not
  * come back verbatim: an entry line without the column-count field
  * re-encodes with the table's column list, as every publish has written
  * it since per-file column lists exist, and a shard's `#bloomcols`
  * drops the old bloom-size field no reader uses. The crafted legacy
  * forms keep their behaviour: a pre-census shard answers the census
  * questions by decoding, a value-keyed `#dv:` vector is refused on read
  * and its sidecar survives vacuum.
  */
class GoldenGtabSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val golden = Paths.get("src/test/resources/golden-gtab")

  private def copy(): String = {
    val to = Files.createTempDirectory("graft_golden").resolve("t")
    val walk = Files.walk(golden)
    try walk.iterator.asScala.foreach { p =>
      val dst = to.resolve(golden.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    } finally walk.close()
    to.toString
  }

  private def files(sub: Path, pick: String => Boolean): Seq[Path] =
    Files.list(sub).iterator.asScala.filter(p =>
      pick(p.getFileName.toString)).toSeq.sortBy(_.toString)

  private def crc(s: String): Long = {
    val c = new CRC32; c.update(s.getBytes(StandardCharsets.UTF_8)); c.getValue
  }

  /** `raw` with each entry line lacking the column-count field given the
    * schema's column list, each shard line's `#bloomcols` bit field
    * emptied, and the header CRC recomputed.
    */
  private def canonical(raw: String): String = {
    val ix = raw.indexOf('\n')
    val lines = raw.substring(ix + 1).split("\n", -1).toSeq
    val cols = StructType.fromDDL(lines.head).fieldNames.toSeq
    val body = (lines.head +: lines.tail.map { l =>
      val p = l.split("\t", -1).toSeq
      if (l.startsWith("@"))
        l.replaceAll("(\t#bloomcols\t[^\t]*)\t[^\t]*", "$1\t")
      else if (l.isEmpty || p(3).toIntOption.isDefined) l
      else (p.take(3) ++ (cols.length.toString +: cols) ++ p.drop(3))
        .mkString("\t")
    }).mkString("\n")
    raw.substring(0, ix).replaceAll(" crc=\\d+$", s" crc=${crc(body)}") +
      "\n" + body
  }

  test("every root, snapshot and shard file round-trips byte for byte") {
    val roots = files(golden, _.startsWith("_MANIFEST"))
    val shards = files(golden.resolve("meta"), _.endsWith(".gsh"))
    assert(roots.size == 11 && shards.size == 3)
    val legacy = roots.filter { p =>
      val raw = Files.readString(p)
      val back = ManifestTable.render(ManifestTable.parse(raw, p.toString))
      assert(back == canonical(raw), p.toString)
      canonical(raw) != raw
    }
    assert(legacy.map(_.getFileName.toString) ==
      Seq("_MANIFEST.blegacy", "_MANIFEST.blegacy.v5"))
    shards.foreach { p =>
      val raw = Files.readString(p)
      val body = raw.substring(raw.indexOf('\n') + 1)
      assert(raw.startsWith(s"gshard crc=${crc(body)}\n"), p.toString)
      val back = body.split("\n").map(l => ManifestCodec.renderEntry(
        ManifestCodec.parseEntry(l, StructType(Nil)))).mkString("\n")
      assert(back == body, p.toString)
    }
  }

  test("the earlier build's facts decode into typed fields") {
    val dir = copy()
    val m = ManifestTable.readManifest(dir).get
    assert(m.shards.size == 2 && m.nFiles == 266 && m.files.size == 266)
    assert(m.shards.forall(r => r.pall.contains(Seq("g")) &&
      r.bloomCols.contains(Seq("id")) && r.ndvCols.contains(Seq("id")) &&
      r.pcols == Seq("g") && r.nameBloom.isDefined && !r.hasDv))
    assert(m.shards.map(_.nFiles).sum + m.inline.size == m.nFiles)
    assert(m.files.forall(f => f.stats.parts.keySet == Set("g") &&
      f.stats.blooms.keySet == Set("id") && f.stats.ndvs.keySet ==
      Set("id") && f.stats.zones.keySet == Set("id", "g", "x") &&
      f.stats.size.isDefined && f.stats.rest.isEmpty))
    // the two merge-on-read deletes chained onto one file
    val dvs = m.files.flatMap(_.stats.dv)
    assert(dvs.size == 1 && dvs.head.names.size == 2 && dvs.head.count == 2)
    // branch `audit` forked main and took one more append
    val audit = ManifestTable.readManifest(dir, "audit").get
    assert(audit.nFiles == m.nFiles + 4 && audit.base == m.version)
  }

  test("a pre-census shard answers the census questions by decoding") {
    val dir = copy()
    val legacy = ManifestTable.readManifest(dir, "legacy").get
    val Seq(pre, bits) = legacy.shards
    assert(pre.pall.isEmpty && pre.bloomCols.isEmpty && pre.ndvCols.isEmpty)
    // the old bit field does not hide the census
    assert(bits.pall.contains(Seq("g")) &&
      bits.bloomCols.contains(Seq("id")) && bits.stats.rest.isEmpty)
    val Seq(marked, dvOld, noCount) = legacy.inline.take(3)
    assert(marked.stats.rest == Map("#bloomrows" -> ("1", "")))
    assert(dvOld.stats.legacyDvs == Seq("#dv:id" -> Seq("dv-old.gdv")))
    assert(noCount.cols == legacy.schema.fieldNames.toSeq &&
      noCount.stats.parts.contains("g"))
    val decoded = legacy.copy(inline = legacy.files, shards = Nil)
    assert(CowOps.censusColumns(legacy) == CowOps.censusColumns(decoded))
    assert(CowOps.censusColumns(legacy) == (Seq("id"), Seq("id")))
    assert(ManifestTable.partitionColumnsOf(legacy) == Seq("g") &&
      ManifestTable.partitionColumnsOf(decoded) == Seq("g"))
    assert(ManifestTable.anyPartitionColumns(legacy) ==
      ManifestTable.anyPartitionColumns(decoded))
  }

  test("a legacy #dv: vector is refused on read and kept by vacuum") {
    val dir = copy()
    val df = spark.read.format("graft.sources.ManifestTable")
      .option("path", dir).option("branch", "legacy").load()
    Seq[() => Any](() => df.collect(), () => df.count()).foreach { read =>
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains("#dv:id") &&
        e.getMessage.contains("older build"), e.getMessage)
    }
    assert(ManifestTable.vacuum(dir, graceMs = 0L).isEmpty)
    assert(Files.exists(Paths.get(dir, "data", "dv-old.gdv")))
  }
}
