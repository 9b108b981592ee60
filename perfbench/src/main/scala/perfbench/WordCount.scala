package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.MapReduce

/** Seeded Gutenberg-like text corpus: a Zipf-distributed vocabulary of
  * pseudo-words (some with non-ASCII letters), mixed case, punctuation,
  * apostrophes and hyphens, digits, chapter headings and blank lines
  * between paragraphs. */
object Corpus {
  private val syllables = Array("an", "ber", "cor", "dan", "el", "fro",
    "gar", "hol", "in", "jor", "kel", "lan", "mor", "nor", "ol", "per",
    "qui", "ras", "sel", "tor", "ur", "val", "wen", "xi", "yor", "zan",
    "é", "ö", "ñ", "ß", "ç", "ø", "ü", "à")
  private val punct = Array(",", ",", ".", ".", ";", ":", "!", "?", "\"",
    "'s", "--", "-", ")", "1")

  def vocabulary(seed: Long, size: Int): Array[String] = {
    val rnd = new SplittableRandom(seed)
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < size) {
      val n = 1 + rnd.nextInt(4)
      seen += (0 until n).map(_ => syllables(
        if (rnd.nextInt(10) == 0) rnd.nextInt(syllables.length)
        else rnd.nextInt(26))).mkString
    }
    seen.toArray
  }

  /** Writes `files` files of about `bytesPerFile` bytes each under `dir`. */
  def write(dir: Path, seed: Long, files: Int, bytesPerFile: Int): Unit = {
    Files.createDirectories(dir)
    val vocab = vocabulary(seed, 20000)
    // Zipf(1.1) cumulative weights over vocabulary ranks
    val cdf = vocab.indices.scanLeft(0.0)((acc, r) =>
      acc + 1.0 / math.pow(r + 1, 1.1)).tail.toArray
    val total = cdf.last
    (0 until files).foreach { f =>
      val rnd = new SplittableRandom(seed * 1000003L + f)
      val sb = new java.lang.StringBuilder(bytesPerFile + 256)
      var line = 0
      var chapter = 0
      while (sb.length < bytesPerFile) {
        if (line % 400 == 0) {
          chapter += 1
          sb.append("CHAPTER ").append(chapter).append(".\n\n")
        }
        val words = 8 + rnd.nextInt(6)
        (0 until words).foreach { w =>
          val u = rnd.nextDouble() * total
          var i = java.util.Arrays.binarySearch(cdf, u)
          if (i < 0) i = -i - 1
          val word = vocab(math.min(i, vocab.length - 1))
          val c = rnd.nextInt(100)
          sb.append(
            if (c < 8 || w == 0) word.capitalize
            else if (c == 8) word.toUpperCase(java.util.Locale.ROOT)
            else word)
          if (rnd.nextInt(9) == 0) sb.append(punct(rnd.nextInt(punct.length)))
          if (w < words - 1) sb.append(' ')
        }
        sb.append('\n')
        line += 1
        if (rnd.nextInt(7) == 0) sb.append('\n')
      }
      Files.write(dir.resolve(f"pg-$f%02d.txt"),
        sb.toString.getBytes(StandardCharsets.UTF_8))
    }
  }
}

/** Single-threaded in-JVM word count and inverted index over the corpus:
  * the sequential reference every distributed result is checked against.
  * Tokens are maximal runs of letters, the engine's `tokenSeparator`. */
final class Sequential(files: Seq[Path]) {
  val counts = mutable.HashMap[String, Long]()
  val index = mutable.HashMap[String, mutable.TreeSet[String]]()
  var words = 0L
  files.foreach { p =>
    val text = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    val name = p.getFileName.toString
    text.split(MapReduce.tokenSeparator).foreach { w =>
      if (w.nonEmpty) {
        words += 1
        counts(w) = counts.getOrElse(w, 0L) + 1
        index.getOrElseUpdate(w, mutable.TreeSet[String]()) += name
      }
    }
  }
}

/** `wordcount`: the reference's own job over a multi-file corpus, through
  * the DataFrame word count, the typed mapReduce, the RDD mapReduce and
  * the inverted index. */
final class WordCount(spark: SparkSession, a: Args) extends Workload {
  import spark.implicits._

  val Files_ = 8
  val BytesPerFile = 1 << 18
  private val dir = a.work.resolve("corpus")
  Corpus.write(dir, a.seed, Files_, BytesPerFile)
  private val glob = dir.toString + "/*.txt"
  private val paths = (0 until Files_).map(f => dir.resolve(f"pg-$f%02d.txt"))
  private val corpusMb = paths.map(p => Files.size(p)).sum / 1048576.0
  private val (ref, sequentialS) = {
    val t0 = System.nanoTime()
    val r = new Sequential(paths)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def setup(rep: Int): Unit = {
    val n = MapReduce.wholeTextFiles(spark, glob).count()
    require(n == Files_, s"read $n of $Files_ corpus files")
  }

  private def counts(label: String, got: Iterable[(String, Long)]) = {
    val m = got.toMap
    if (m.size != ref.counts.size || got.size != m.size)
      Some(s"$label: ${got.size} words, expected ${ref.counts.size}")
    else ref.counts.collectFirst {
      case (w, c) if !m.get(w).contains(c) =>
        s"$label: count of '$w' is ${m.get(w)}, expected $c"
    }
  }

  /** The four flavors, each checked against the sequential reference. */
  private val measured: Seq[Op] = {
    def docs = MapReduce.wholeTextFiles(spark, glob)
    Seq(
      Op("core.wordCount", () => {
        val rows = Tracer.span("core.wordCount") {
          MapReduce.wordCount(docs, "contents").collect() }
        () => counts("wordCount", rows.map(r => (r.getString(0), r.getLong(1))))
      }),
      Op("core.mapReduce", () => {
        val rows = Tracer.span("core.mapReduce") {
          MapReduce.mapReduce[(String, String), String, Long, Long](
            docs.select("filename", "contents").as[(String, String)],
            { case (_, text) => text.split(MapReduce.tokenSeparator).iterator
              .filter(_.nonEmpty).map(w => (w, 1L)) },
            (_, ones) => ones.sum).collect()
        }
        () => counts("mapReduce", rows)
      }),
      Op("core.mapReduceRdd", () => {
        val rows = Tracer.span("core.mapReduceRdd") {
          MapReduce.mapReduceRdd[String, Long](spark, glob,
            (_, text) => text.split(MapReduce.tokenSeparator).toSeq
              .filter(_.nonEmpty).map(w => (w, 1L)),
            _ + _).collect()
        }
        () => counts("mapReduceRdd", rows)
      }),
      Op("core.invertedIndex", () => {
        val rows = Tracer.span("core.invertedIndex") {
          MapReduce.invertedIndex(docs, "contents", "filename").collect() }
        () => index(rows)
      }))
  }

  private def index(rows: Array[org.apache.spark.sql.Row]) = {
    val bad = rows.iterator.map { r =>
      val docsOf = r.getString(2).split(",").map(_.split('/').last).toSeq
      (r.getString(0), r.getLong(1), docsOf)
    }.find { case (w, n, ds) =>
      !ref.index.get(w).exists(s => s.size == n && s.toSeq == ds)
    }
    if (rows.length != ref.index.size)
      Some(s"invertedIndex: ${rows.length} words, expected ${ref.index.size}")
    else bad.map { case (w, _, _) => s"invertedIndex: entry of '$w' differs" }
  }

  def warmup: Seq[Op] = Seq.fill(3)(measured).flatten
  def round(r: Int): Seq[Op] = measured
  def roundSeconds: Double = 2.5

  override def context: Map[String, Double] = Map(
    "corpus_mb" -> corpusMb, "sequential_s" -> sequentialS)

  override def layer(all: Seq[OpRec], traced: Seq[OpStats]): Map[String, Double] = {
    val ops = all.filter(_.label.startsWith("core."))
    def med(l: String) = Stats.median(ops.filter(_.label == l).map(_.seconds))
    val wc = traced.filter(_.label == "core.wordCount")
    Map(
      "core.word_count_s" -> med("core.wordCount"),
      "core.map_reduce_s" -> med("core.mapReduce"),
      "core.map_reduce_rdd_s" -> med("core.mapReduceRdd"),
      "core.inverted_index_s" -> med("core.invertedIndex"),
      "core.combine_ratio" ->
        Layers.mean(wc.map(_.shuffleRecords / ref.words.toDouble)),
      "core.sequential_s" -> sequentialS,
      "throughput_mb_s" -> corpusMb * ops.size / ops.map(_.seconds).sum)
  }
}
