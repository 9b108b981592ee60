package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Fns, Fnv1a32, RollingHash31}

class HashExprsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("fnv1a32 matches published FNV-1a test vectors (reference ihash parity)") {
    // FNV-1a 32-bit: ""=0x811c9dc5, "a"=0xe40c292c, "hello"=0x4f9f2cab;
    // reference masks with 0x7fffffff (/root/reference/mr/worker.go:29-33)
    assert(Fnv1a32.hash("".getBytes("UTF-8")) == (0x811c9dc5L & 0x7fffffffL))
    assert(Fnv1a32.hash("a".getBytes("UTF-8")) == (0xe40c292cL & 0x7fffffffL))
    assert(Fnv1a32.hash("hello".getBytes("UTF-8")) == 0x4f9f2cabL)
  }

  test("expressions evaluate identically through codegen (DataFrame) and directly") {
    val words = Seq("", "a", "hello", "Grüße", "日本語", "mixed 123 tokens!")
    val df = words.toDF("w")
      .select($"w", Fns.fnv1a32($"w").as("f"), Fns.rollingHash31($"w").as("r"))
    df.collect().foreach { row =>
      val w = row.getString(0)
      assert(row.getLong(1) == Fnv1a32.hash(w.getBytes("UTF-8")), s"fnv($w)")
      assert(row.getLong(2) == RollingHash31.hash(w), s"rolling($w)")
    }
  }

  test("rolling_hash31 equals higher-order-function composition") {
    // independent formulation: aggregate over per-char code points
    val df = Seq("hello", "the quick brown fox", "abc def").toDF("w")
      .select(Fns.rollingHash31($"w").as("expr_hash"),
        aggregate(transform(split($"w", ""), c => ascii(c).cast("long")),
          lit(0L), (h, c) => (h * 31 + c) % 2147483648L).as("hof_hash"))
    df.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("native shingle expression equals HOF composition (order and content)") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val both = docs.select(
      Fns.shingles(split($"text", " "), 3).as("fast"),
      Fns.shinglesHof(split($"text", " "), 3).as("hof"))
    assert(both.filter(not($"fast" <=> $"hof")).count() == 0)
  }

  test("native cosine equals HOF composition bit-for-bit") {
    val e = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val a = e.select($"vec_id".as("ia"), $"embedding".as("va")).filter($"ia" < 30)
    val b = e.select($"vec_id".as("ib"), $"embedding".as("vb")).filter($"ib" < 30)
    val pairs = a.join(b, $"ia" < $"ib")
      .select(Fns.cosineSimilarity($"va", $"vb").as("fast"),
        Fns.cosineSimilarityHof($"va", $"vb").as("hof"))
    assert(pairs.filter(not($"fast" <=> $"hof")).count() == 0)
  }

  test("shingle_rows generator == explode(shingle_array): rows, order, and plan shape") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val viaGen = docs.select($"doc_id",
      Fns.shingleRows(split($"text", " "), 3).as("shingle"))
    val viaArr = docs.select($"doc_id",
      explode(Fns.shingles(split($"text", " "), 3)).as("shingle"))
    assert(viaGen.as[(Long, String)].collect().toSeq ==
      viaArr.as[(Long, String)].collect().toSeq)
    // the generator plans as a Generate node over shingle_rows with no
    // intermediate shingle_array value in the plan
    val plan = viaGen.queryExecution.executedPlan.toString
    assert(plan.contains("Generate shingle_rows"), plan)
    assert(!plan.contains("shingle_array"), plan)
    // and it parses as a SQL table-generating function
    docs.limit(5).createOrReplaceTempView("sr_docs")
    val n = spark.sql(
      "SELECT doc_id, shingle_rows(split(text, ' '), 3) FROM sr_docs").count()
    assert(n > 0)
  }

  test("native array_int_dot equals HOF composition, sums in long (no int overflow)") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 50).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextInt(255) - 127), Seq.fill(64)(rnd.nextInt(255) - 127))
    }
    val df = rows.toDF("id", "a", "b")
    val both = df.select(
      Fns.arrayIntDot($"a", $"b").as("fast"),
      aggregate(zip_with($"a", $"b",
          (x, y) => x.cast("long") * y.cast("long")),
        lit(0L), (acc, v) => acc + v).as("hof"))
    assert(both.filter(not($"fast" <=> $"hof")).count() == 0)
    // accumulation is long: Int.MaxValue-squared magnitudes must not wrap
    val big = Seq((Seq(Int.MaxValue, Int.MaxValue), Seq(2, 2))).toDF("a", "b")
    val got = big.select(Fns.arrayIntDot($"a", $"b")).as[Long].head()
    assert(got == 2L * Int.MaxValue * 2)
  }

  test("rolling hash property: random ascii strings fold like the scala model") {
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val s = (0 until rnd.nextInt(40)).map(_ => (' ' + rnd.nextInt(95)).toChar).mkString
      val expect = s.foldLeft(0L)((h, c) => (h * 31 + c.toLong) & 0x7fffffffL)
      assert(RollingHash31.hash(s) == expect, s"for '$s'")
    }
  }
}
