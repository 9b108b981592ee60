package graft.sources

import graft.sources.ManifestTable.{FileEntry, ShardRef, escape, unescape}
import org.apache.spark.sql.types.StructType

/** One column's min and max over a file, in the row codec's text form. */
final case class Zone(lo: String, hi: String)

/** A bloom (`k` hashes) or KMV sketch (`k` smallest hashes kept) whose
  * words stay base64 text: planning decodes only what it probes.
  */
final case class Sketch(k: Int, words: String)

/** Position deletion-vector sidecars (disjoint) and their total count. */
final case class DvChain(names: Seq[String], count: Long)

/** The facts a manifest entry records about its file (on a shard ref:
  * aggregated over its members). `rest` keeps, verbatim, each reserved
  * key this build does not interpret: an old `#bloomrows` marker, a
  * value-keyed `#dv:` vector, or the zone map of a column an older build
  * let start with `#`.
  */
final case class FileStats(
    zones: Map[String, Zone] = Map.empty,
    blooms: Map[String, Sketch] = Map.empty,
    ndvs: Map[String, Sketch] = Map.empty,
    parts: Map[String, String] = Map.empty,
    size: Option[Long] = None,
    dv: Option[DvChain] = None,
    rest: Map[String, (String, String)] = Map.empty) {

  /** An older build's value-keyed deletion vectors: (key, sidecars),
    * refused by the scan, honoured by counts, the shard flag and vacuum. */
  def legacyDvs: Seq[(String, Seq[String])] = rest.toSeq.collect {
    case (k, (names, _)) if k.startsWith("#dv") =>
      k -> names.split(";").toSeq.filter(_.nonEmpty)
  }

  def hasDv: Boolean = dv.isDefined || legacyDvs.nonEmpty

  /** Column `from` renamed `to` in every per-column fact. A `from`
    * starting with `#` has its zone map in `rest`: renaming it to a legal
    * name makes it a zone map again. */
  def renamed(from: String, to: String): FileStats = {
    def ren[V](m: Map[String, V]) =
      m.get(from).fold(m)(v => m - from + (to -> v))
    copy(zones = ren(zones) ++ rest.get(from).map { case (lo, hi) =>
        to -> Zone(lo, hi) }, blooms = ren(blooms), ndvs = ren(ndvs),
      parts = ren(parts), rest = (rest - from).map { case (k, v) =>
        val i = k.indexOf(':')
        (if (i > 0 && k.substring(i + 1) == from) k.take(i + 1) + to
        else k) -> v
      })
  }
}

/** The manifest's entry-line codec, and the only code that knows a stat
  * key. A line is `name rows crc n col1..coln` and then `key lo hi`
  * triples sorted by key, tab-separated and escaped. A key is a column
  * name (its zone map) or a reserved key starting with `#`, which no
  * column may: `#bloom:c`, `#ndv:c`, `#part:c`, `#sz`, `#dvp`, and on
  * shard root lines `#nf` (member count), the census `#pcols`, `#pall`,
  * `#bloomcols`, `#ndvcols`, the `#dv` flag and the `#nbl` name bloom.
  */
private[graft] object ManifestCodec {
  private val BloomKey = "#bloom:"
  private val NdvKey = "#ndv:"
  private val PartKey = "#part:"
  private val SizeKey = "#sz"
  private val DvKey = "#dvp"
  private val NfKey = "#nf"
  private val PColsKey = "#pcols"
  private val PAllKey = "#pall"
  private val BloomColsKey = "#bloomcols"
  private val NdvColsKey = "#ndvcols"
  private val ShardDvKey = "#dv"
  private val NameBloomKey = "#nbl"
  private val ShardKeys = Set(NfKey, PColsKey, PAllKey, BloomColsKey,
    NdvColsKey, ShardDvKey, NameBloomKey)

  private type Triple = (String, (String, String))

  def isReservedKey(name: String): Boolean = name.startsWith("#")

  def renderEntry(f: FileEntry): String =
    render(f.name, f.rows, f.crc, f.cols, triples(f.stats))

  /** A line without the column-count field (older than per-file column
    * lists) lists the table schema's columns. */
  def parseEntry(l: String, schema: StructType): FileEntry = {
    val (e, ts) = fields(l, schema)
    e.copy(stats = decode(ts))
  }

  /** A shard root line, without the root's `@` marker. */
  def renderShard(r: ShardRef): String = {
    def names(cs: Seq[String]) = (cs.map(escape).mkString(","), "")
    render(r.name, r.rows, r.crc, r.cols, triples(r.stats) ++
      Seq(NfKey -> (r.nFiles.toString, "")) ++
      Some(PColsKey -> names(r.pcols)).filter(_ => r.pcols.nonEmpty) ++
      r.pall.map(PAllKey -> names(_)) ++
      r.bloomCols.map(BloomColsKey -> names(_)) ++
      r.ndvCols.map(NdvColsKey -> names(_)) ++
      Some(ShardDvKey -> ("1", "")).filter(_ => r.hasDv) ++
      r.nameBloom.map(s => NameBloomKey -> (s.k.toString, s.words)))
  }

  def parseShard(l: String): ShardRef = {
    val (e, ts) = fields(l, StructType(Nil))
    val (own, member) = ts.partition(t => ShardKeys.contains(t._1))
    val kv = own.toMap
    // a name list is the first field (an older build's `#bloomcols`
    // carried a bloom size in the second, which no reader uses)
    def names(key: String) = kv.get(key).map(_._1.split(",").toSeq
      .filter(_.nonEmpty).map(unescape))
    ShardRef(e.name, kv.get(NfKey).flatMap(_._1.toIntOption).getOrElse(0),
      e.rows, e.crc, e.cols, decode(member),
      pcols = names(PColsKey).getOrElse(Nil), pall = names(PAllKey),
      bloomCols = names(BloomColsKey), ndvCols = names(NdvColsKey),
      hasDv = kv.contains(ShardDvKey),
      nameBloom = kv.get(NameBloomKey).flatMap(sketch))
  }

  /** A line's name, rows, CRC and columns, and its stat triples. */
  private def fields(l: String, schema: StructType)
      : (FileEntry, Seq[Triple]) = {
    val p = l.split("\t", -1)
    val (cols, from) = (if (p.length > 3) p(3).toIntOption else None) match {
      case Some(n) => (p.slice(4, 4 + n).map(unescape).toSeq, 4 + n)
      case None => (schema.fieldNames.toSeq, 3)
    }
    (FileEntry(p(0), p(1).toLong, p(2).toLong, cols),
      p.toSeq.drop(from).grouped(3).collect {
        case Seq(k, a, b) => unescape(k) -> (unescape(a), unescape(b))
      }.toSeq)
  }

  private def render(name: String, rows: Long, crc: Long, cols: Seq[String],
      stats: Seq[Triple]): String =
    (Seq(name, rows.toString, crc.toString, cols.length.toString) ++
      cols.map(escape) ++ stats.sortBy(_._1).flatMap { case (k, (a, b)) =>
        Seq(escape(k), escape(a), escape(b)) }).mkString("\t")

  private def triples(s: FileStats): Seq[Triple] =
    s.zones.toSeq.map { case (c, z) => c -> (z.lo, z.hi) } ++
      s.blooms.toSeq.map { case (c, b) => (BloomKey + c, (b.k.toString,
        b.words)) } ++
      s.ndvs.toSeq.map { case (c, b) => (NdvKey + c, (b.k.toString,
        b.words)) } ++
      s.parts.toSeq.map { case (c, v) => (PartKey + c, (v, "")) } ++
      s.size.map(n => SizeKey -> (n.toString, "")) ++
      s.dv.map(d => DvKey -> (d.names.mkString(";"), d.count.toString)) ++
      s.rest

  /** Known keys decode leniently: a count that does not parse reads as
    * absent. Only keys this build does not know go to `rest`. */
  private def decode(ts: Seq[Triple]): FileStats =
    ts.foldLeft(FileStats()) { case (s, t @ (k, v @ (a, b))) =>
      def col(key: String) = k.substring(key.length)
      if (!k.startsWith("#")) s.copy(zones = s.zones + (k -> Zone(a, b)))
      else if (k.startsWith(BloomKey))
        s.copy(blooms = s.blooms ++ sketch(v).map(col(BloomKey) -> _))
      else if (k.startsWith(NdvKey))
        s.copy(ndvs = s.ndvs ++ sketch(v).map(col(NdvKey) -> _))
      else if (k.startsWith(PartKey))
        s.copy(parts = s.parts + (col(PartKey) -> a))
      else if (k == SizeKey) s.copy(size = a.toLongOption)
      else if (k == DvKey) s.copy(dv = Some(DvChain(
        a.split(";").toSeq.filter(_.nonEmpty), b.toLongOption.getOrElse(0L))))
      else s.copy(rest = s.rest + t)
    }

  private def sketch(v: (String, String)): Option[Sketch] =
    v._1.toIntOption.map(Sketch(_, v._2))
}
