package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, IntegerType, LongType,
  StringType}

/** `ANALYZE TABLE`-style NDV retrofit: compute per-file KMV sketches for
  * an EXISTING table in one distributed read pass and attach them to the
  * manifest entries as a metadata-only commit — no data file is
  * rewritten. The table gains the same `#ndv:<col>` sketches a
  * `.option("ndvColumns", ...)` write produces (identical value hashes,
  * so later writer-produced sketches merge consistently), and the scan's
  * columnStats report starts feeding CBO immediately.
  *
  * Distribution: rows carry the `_file` metadata column, so the
  * per-(file, column) k-minimum-hash state lives in mapPartitions
  * executor memory — O(files-in-partition × columns × k) longs — and
  * only the sketches (files × columns × k longs) collect to the driver,
  * which authors the updated entries and publishes one CAS-retried
  * manifest version. Files committed concurrently with the analyze
  * simply lack sketches (mergeNdv answers None for scans that include
  * them — conservative, like every stats gap).
  *
  * Exposed as `CALL g.system.analyze_ndv(table => 't',
  * columns => 'c1,c2')`.
  */
object AnalyzeNdv {

  def run(spark: SparkSession, dir: String, cols: Seq[String]): Int = {
    require(cols.nonEmpty, "analyze_ndv needs at least one column")
    val m = ManifestTable.readManifest(dir).getOrElse(
      throw new IllegalArgumentException(s"no committed manifest at $dir"))
    cols.foreach { c =>
      val f = m.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"analyze_ndv names absent column '$c'"))
      require(GTabBloom.supported(f.dataType),
        s"analyze_ndv: '$c' is ${f.dataType.sql} — NDV sketches support " +
          "int/long/string")
    }
    if (m.files.isEmpty) return 0
    val types: Seq[DataType] = cols.map(c => m.schema(c).dataType)
    val k = ManifestTable.NdvK
    import spark.implicits._
    val df = spark.read.format("graft.sources.ManifestTable")
      .option("path", dir).load()
      .select((ManifestTable.FileMetaCol +: cols).map(col): _*)
    val colArr = cols.toArray
    val typeArr = types.toArray
    // per-partition KMV over (file, column) — same value hashes as the
    // writer (mix64 for integrals, the FNV64-avalanche for strings)
    val sketches: Array[(String, String, Array[Long])] =
      df.mapPartitions { it =>
        val state = scala.collection.mutable.HashMap
          .empty[(String, Int), java.util.TreeSet[java.lang.Long]]
        it.foreach { r: Row =>
          val file = r.getString(0)
          var j = 0
          while (j < colArr.length) {
            val ix = j + 1
            if (!r.isNullAt(ix)) {
              val h = typeArr(j) match {
                case IntegerType =>
                  graft.functions.BloomUtil.mix64(r.getInt(ix).toLong)
                case LongType =>
                  graft.functions.BloomUtil.mix64(r.getLong(ix))
                case StringType =>
                  graft.functions.BloomUtil.hashString(r.getString(ix))
                case other =>
                  throw new IllegalStateException(s"unreachable: $other")
              }
              val flipped = java.lang.Long.valueOf(h ^ Long.MinValue)
              val s = state.getOrElseUpdate((file, j),
                new java.util.TreeSet[java.lang.Long]())
              if (s.size < k) { s.add(flipped); () }
              else if (flipped.longValue < s.last.longValue) {
                if (s.add(flipped)) { s.pollLast(); () }
              }
            }
            j += 1
          }
        }
        state.iterator.map { case ((file, j), s) =>
          val hs = new Array[Long](s.size)
          val itv = s.iterator()
          var i = 0
          while (itv.hasNext) { hs(i) = itv.next().longValue ^ Long.MinValue
            i += 1 }
          (file.substring(file.lastIndexOf('/') + 1), colArr(j), hs)
        }
      }.collect()
    // several partitions can contribute to one (file, col) only through
    // group partitions sharing a reader — merge defensively anyway; and
    // EVERY analyzed (file, column) gets a sketch, an absent one
    // defaulting to empty (an all-null or empty file has exactly 0
    // distinct values — the writer records the same)
    val got: Map[(String, String), Array[Long]] = sketches
      .groupBy(s => (s._1, s._2)).map { case (key, parts) =>
        key -> parts.flatMap(_._3).distinct
          .map(_ ^ Long.MinValue).sorted.take(k)
          .map(_ ^ Long.MinValue)
      }
    val byFile: Map[String, Map[String, Sketch]] =
      m.files.map { f =>
        f.name -> cols.map { c =>
          c -> Sketch(k,
            GTabBloom.encode(got.getOrElse((f.name, c), Array.empty)))
        }.toMap
      }.toMap
    // a stats retrofit publishes the CURRENT schema (re-read per CAS
    // attempt): publishing the pre-scan m.schema would silently undo a
    // RENAME COLUMN that landed during the distributed sketch pass
    ManifestTable.commitSchema(dir, op = "analyze-stats",
      transform = cur => (cur.schema, files => files.map {
      f =>
        byFile.get(f.name) match {
          case Some(st) =>
            f.copy(stats = f.stats.copy(ndvs = f.stats.ndvs ++ st))
          case None => f
        }
    }))
    byFile.size
  }
}
