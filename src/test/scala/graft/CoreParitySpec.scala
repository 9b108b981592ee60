package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.Locale

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.MapReduce

/** Reference-parity: tokenizer semantics and golden word counts over a
  * Gutenberg-like corpus (see [[PgCorpus]]).
  */
class CoreParitySpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val pgDir: Path = Files.createTempDirectory("pg-corpus")
  PgCorpus.write(pgDir)
  val pgGlob = s"$pgDir/pg-*.txt"

  override def afterAll(): Unit = {
    pgDir.toFile.listFiles().foreach(_.delete())
    Files.delete(pgDir)
  }

  test("tokenizer: split on any non-letter, case preserved, empties dropped") {
    // semantics of /root/reference/mrapps/wc.go:21-31
    val got = Seq("don't stop-me 123abc456def  Ünïcode!")
      .toDF("text")
      .select(explode(split($"text", MapReduce.tokenSeparator)).as("w"))
      .filter(length($"w") > 0)
      .as[String].collect().toSeq
    assert(got == Seq("don", "t", "stop", "me", "abc", "def", "Ünïcode"))
  }

  test("word count over the pg corpus matches an independent in-JVM oracle") {
    val docs = MapReduce.wholeTextFiles(spark, pgGlob)
    val wc = MapReduce.wordCount(docs, "contents")
      .as[(String, Long)].collect().toMap
    // independent oracle: plain-Scala tokenization of the same bytes
    val expected = pgDir.toFile.listFiles().sortBy(_.getName)
      .map(f => new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
      .flatMap(_.split("[^\\p{L}]+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
    assert(expected.size > 2000)
    assert(wc.size == expected.size)
    assert(wc("the") == expected("the"))
    assert(wc(PgCorpus.Title) == PgCorpus.FileCount)
    expected.take(2000).foreach { case (w, n) => assert(wc(w) == n, s"word $w") }
  }

  test("typed mapReduce path equals the declarative wordCount") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val declarative = MapReduce.wordCount(docs, "text")
      .as[(String, Long)].collect().toMap
    val typed = MapReduce.mapReduce[String, String, Int, Long](
      docs.select("text").as[String],
      (t: String) => t.split(MapReduce.tokenSeparator).iterator
        .filter(_.nonEmpty).map(w => (w, 1)),
      (_: String, vs: Iterator[Int]) => vs.map(_.toLong).sum)
      .collect().toMap
    assert(declarative == typed)
  }

  test("ReduceAggregator (UDAF surface) reproduces the wc reducer incrementally") {
    import graft.core.ReduceAggregator
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val words = docs.select(explode(split($"text", MapReduce.tokenSeparator)).as("w"))
      .filter(length($"w") > 0).as[String]
    val viaAggregator = words.groupByKey(identity)
      .agg(ReduceAggregator.countValues.asInstanceOf[
        org.apache.spark.sql.expressions.Aggregator[String, Long, Long]].toColumn)
      .collect().toMap
    val viaGroupBy = MapReduce.wordCount(docs, "text")
      .as[(String, Long)].collect().toMap
    assert(viaAggregator == viaGroupBy)
  }

  test("RDD-flavored mapReduce equals the DataFrame wordCount on the pg corpus") {
    val viaRdd = MapReduce.mapReduceRdd[String, Long](
      spark, pgGlob,
      (_, contents) => contents.split(MapReduce.tokenSeparator)
        .filter(_.nonEmpty).map(w => (w, 1L)).toSeq,
      _ + _, numPartitions = 10)
      .collect().toMap
    val viaDf = MapReduce.wordCount(
      MapReduce.wholeTextFiles(spark, pgGlob), "contents")
      .as[(String, Long)].collect().toMap
    assert(viaRdd == viaDf)
  }

  test("inverted index: ndocs equals distinct docs containing the word") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val idx = MapReduce.invertedIndex(docs, "text", "doc_id")
    val row = idx.filter($"word" === "the").head()
    val doclist = row.getAs[String]("doclist").split(",")
    assert(row.getAs[Long]("ndocs") == doclist.length)
    assert(doclist.toSeq == doclist.sorted.toSeq)
  }
}

/** Deterministic stand-in for the reference's Project Gutenberg corpus:
  * `pg-*.txt` files of Zipf-distributed words in mixed case, with
  * punctuation, apostrophes, digits, blank lines and non-ASCII letters.
  * The vocabulary's most frequent word is "the".
  */
object PgCorpus {
  val FileCount = 8
  /** Opens every file's title line and appears nowhere else. */
  val Title = "Ærøskøbing"
  private val common = Seq("the", "and", "of", "to", "a", "in", "was", "he")
  private val syllables = Vector("an", "ber", "cor", "dél", "ek", "fro",
    "gär", "hol", "ïn", "jor", "kel", "løn", "mor", "ñu", "ost", "prä",
    "qui", "ras", "ßel", "tor", "ur", "val", "wen", "yç", "zan")
  private val separators = Vector(" ", " ", " ", " ", " ", ", ", ". ",
    "; ", "! ", "? ", " -- ", "'s ", "’ ", " (1884) ", " \"", "_ ")

  def write(dir: Path): Unit = {
    val rnd = new java.util.Random(42)
    val vocab = scala.collection.mutable.LinkedHashSet(common: _*)
    while (vocab.size < 4000)
      vocab += (0 to rnd.nextInt(3))
        .map(_ => syllables(rnd.nextInt(syllables.size))).mkString
    val words = vocab.toVector
    // Zipf(1.05) cumulative weights over vocabulary ranks
    val cdf = words.indices.scanLeft(0.0)((acc, r) =>
      acc + 1.0 / math.pow(r + 1, 1.05)).tail.toArray
    (1 to FileCount).foreach { f =>
      val sb = new StringBuilder(s"$Title, Volume $f\n\n")
      while (sb.length < 48000) {
        (0 to 5 + rnd.nextInt(9)).foreach { _ =>
          var i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * cdf.last)
          if (i < 0) i = -i - 1
          val w = words(math.min(i, words.size - 1))
          val c = rnd.nextInt(100)
          sb ++= (if (c < 12) w.capitalize
            else if (c < 15) w.toUpperCase(Locale.ROOT) else w)
          sb ++= separators(rnd.nextInt(separators.size))
        }
        sb += '\n'
        if (rnd.nextInt(6) == 0) sb += '\n'
      }
      Files.write(dir.resolve(s"pg-$f.txt"),
        sb.toString.getBytes(StandardCharsets.UTF_8))
    }
  }
}
