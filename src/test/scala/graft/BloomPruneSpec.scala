package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.BloomPrune
import graft.functions.BloomUtil

class BloomPruneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("no false negatives: every built key passes the probe") {
    val keys = (1L to 5000L).map(_ * 7919L) // spread values
    val bloom = BloomPrune.build(keys.toDF("k"), "k", numBits = 1 << 16)
    val facts = keys.toDF("k")
    assert(BloomPrune.prune(facts, "k", bloom).count() == keys.size.toLong)
  }

  test("false positive rate is in the expected band at 10 bits/key") {
    val n = 5000
    val keys = (1L to n.toLong).toDF("k")
    val bloom = BloomPrune.build(keys, "k", numBits = 64 * ((10 * n + 63) / 64))
    // probe disjoint keys: expected FPP ~1% at k=7; allow generous slack
    val probes = ((n + 1).toLong to (n + 20000).toLong).toDF("k")
    val fp = BloomPrune.prune(probes, "k", bloom).count().toDouble / 20000
    assert(fp < 0.05, s"false positive rate $fp")
    assert(fp > 0.0001, s"suspiciously perfect filter ($fp) — probe broken?")
  }

  test("build-side Aggregator OR-merge equals single-partition build") {
    val keys = (1L to 2000L).toDF("k")
    val one = BloomPrune.build(keys.coalesce(1), "k", 1 << 12)
      .as[Array[Long]].head()
    val many = BloomPrune.build(keys.repartition(16), "k", 1 << 12)
      .as[Array[Long]].head()
    assert(one.toSeq == many.toSeq)
  }

  test("expression evaluates identically through codegen and directly") {
    val words = new Array[Long](64)
    (1L to 100L).foreach(k => BloomUtil.set(words, k, 7))
    val bloomDf = Seq(words.toSeq).toDF("bloom")
    val got = (1L to 300L).toDF("k").crossJoin(bloomDf)
      .select($"k", BloomPrune.mightContain($"bloom", $"k").as("hit"))
      .as[(Long, Boolean)].collect()
    import org.apache.spark.sql.catalyst.util.ArrayData
    val ad = ArrayData.toArrayData(words)
    got.foreach { case (k, hit) =>
      assert(hit == BloomUtil.mightContain(ad, k, 7), s"key $k")
    }
    assert(got.count(_._2) >= 100) // all built keys hit
  }

  test("bloom_might_contain parses as a SQL function") {
    val words = new Array[Long](8)
    BloomUtil.set(words, 42L, 7)
    Seq(words.toSeq).toDF("bloom").createOrReplaceTempView("bloom_v")
    val r = spark.sql(
      """SELECT bloom_might_contain(bloom, 42L, 7) AS hit,
        |       bloom_might_contain(bloom, 43L, 7) AS miss43
        |FROM bloom_v""".stripMargin).head()
    assert(r.getBoolean(0))
    // 43 may be a false positive in 512 bits but overwhelmingly is not;
    // only assert the built key hits to keep this deterministic
  }

  test("pruned + real semi join == plain semi join (FPs resolved)") {
    val dim = (1L to 100L).filter(_ % 3 == 0).toDF("k")
    val fact = (1L to 1000L).map(i => (i % 120, i)).toDF("k", "v")
    val bloom = BloomPrune.build(dim, "k", 1 << 10)
    val viaBloom = BloomPrune.prune(fact, "k", bloom)
      .join(dim, Seq("k"), "left_semi")
      .as[(Long, Long)].collect().toSet
    val plain = fact.join(dim, Seq("k"), "left_semi")
      .as[(Long, Long)].collect().toSet
    assert(viaBloom == plain)
  }

  test("antiKeep equals the plain anti-join at any bloom size (FPP-invariant)") {
    val fact = (1L to 3000L).map(k => (k, k * 3)).toDF("k", "v")
    val dim = (1L to 3000L by 5).toDF("dk") // 20% of fact keys present
    val plain = fact.join(dim, col("k") === col("dk"), "left_anti")
      .as[(Long, Long)].collect().toSet
    // a roomy filter and a pathologically tiny one (near-100% FPP) must
    // both return the exact anti-join — acceleration, not approximation
    for (bits <- Seq(1 << 16, 64)) {
      val got = BloomPrune.antiKeep(fact, "k", dim, "dk", numBits = bits)
        .as[(Long, Long)].collect().toSet
      assert(got == plain, s"numBits=$bits")
    }
  }

  test("antiKeep keeps null-key rows, matching LEFT ANTI JOIN semantics") {
    // a null join condition is never true in an anti-join, so null-key
    // rows must survive — they ride the misses branch via coalesce
    val fact = Seq[(java.lang.Long, String)](
      (1L, "in_dim"), (2L, "not_in_dim"), (null, "null_key_a"),
      (null, "null_key_b"), (7L, "in_dim_too")).toDF("k", "v")
    val dim = Seq(1L, 7L).toDF("dk")
    val got = BloomPrune.antiKeep(fact, "k", dim, "dk", numBits = 1 << 10)
      .select($"v").as[String].collect().toSet
    val plain = fact.join(dim, col("k") === col("dk"), "left_anti")
      .select($"v").as[String].collect().toSet
    assert(got == plain)
    assert(got == Set("not_in_dim", "null_key_a", "null_key_b"))
  }

  test("antiKeep == LEFT ANTI on random inputs with nulls (seeded property)") {
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 5) {
      val fact = (1 to 400).map { i =>
        val k: java.lang.Long =
          if (rnd.nextInt(10) == 0) null else rnd.nextInt(200).toLong
        (k, i.toLong)
      }.toDF("k", "v")
      val dim = (1 to 60).map(_ => rnd.nextInt(200).toLong).distinct.toDF("dk")
      val bits = Seq(64, 1 << 8, 1 << 14)(trial % 3)
      val got = BloomPrune.antiKeep(fact, "k", dim, "dk", numBits = bits)
        .select("v").as[Long].collect().toSet
      val plain = fact.join(dim, col("k") === col("dk"), "left_anti")
        .select("v").as[Long].collect().toSet
      assert(got == plain, s"trial $trial bits=$bits")
    }
  }

  test("antiKeep bloom-negative path reaches the output without any join") {
    val fact = (1L to 1000L).map(k => (k, k)).toDF("k", "v")
    val dim = (1L to 1000L by 10).toDF("dk")
    val plan = BloomPrune.antiKeep(fact, "k", dim, "dk", numBits = 1 << 14)
      .queryExecution.executedPlan.toString
    // the union's first child (misses branch) holds only the one-row
    // bitmap probe (a broadcast of the bloom, no row exchange): the
    // anti-join and any hash-partition exchange may appear only in the
    // candidates branch, after the LeftAnti marker
    val anti = plan.indexOf("LeftAnti")
    assert(anti > 0, plan)
    val misses = plan.substring(plan.indexOf("Union"), anti)
    assert(!misses.contains("Exchange hashpartitioning"), plan)
    assert(!misses.contains("LeftAnti"), plan)
  }
}
