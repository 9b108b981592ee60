package graft

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Bridge
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ConnectedComponents

class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A session whose graphs never fit the broadcast threshold: every
    * componentLabels call takes the distributed round path.
    */
  lazy val rounds: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  private def labels(pairs: Seq[(Long, Long)], maxIter: Int = 20,
      session: SparkSession = spark): Map[Long, Long] =
    ConnectedComponents.componentLabels(
      session.createDataFrame(pairs).toDF("id_a", "id_b"), maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Reference labels: BFS from each unseen node in ascending id order,
    * so every component is labelled with its minimum id.
    */
  private def bfsLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    val label = mutable.Map.empty[Long, Long]
    for (start <- adj.keys.toSeq.sorted if !label.contains(start)) {
      label(start) = start
      val queue = mutable.Queue(start)
      while (queue.nonEmpty)
        adj(queue.dequeue()).filterNot(label.contains).foreach { w =>
          label(w) = start
          queue.enqueue(w)
        }
    }
    label.toMap
  }

  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    Bridge.waitForListeners(spark)
    spark.sparkContext.addSparkListener(counter)
    try body finally {
      Bridge.waitForListeners(spark)
      spark.sparkContext.removeSparkListener(counter)
    }
    jobs.get
  }

  test("chain is transitive: a~b~c~d is ONE group (pairwise dedup is not)") {
    assert(labels(Seq((1L, 2L), (2L, 3L), (3L, 4L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("disjoint components and cycles keep distinct min labels") {
    val got = labels(Seq((5L, 6L), (6L, 7L), (7L, 5L), (10L, 11L)))
    assert(got == Map(5L -> 5L, 6L -> 5L, 7L -> 5L, 10L -> 10L, 11L -> 10L))
  }

  test("pointer jumping converges on a 64-node chain within log-ish rounds") {
    // worst-case diameter graph: plain propagation needs 63 rounds and
    // would trip maxIter=10; min-label + label-of-label compression must
    // finish well inside it
    val chain = (0L until 63L).map(i => (i, i + 1))
    assert(labels(chain, maxIter = 10, session = rounds) ==
      (0L to 63L).map(_ -> 0L).toMap)
  }

  test("dedupGroups assigns singletons their own id and marks one rep per group") {
    val docs = Seq(1L, 2L, 3L, 4L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = ConnectedComponents.dedupGroups(docs, "doc_id", pairs)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true), (9L, 9L, true)))
    // keep-one dedup: exactly one rep per group
    val reps = got.groupBy(_._2).map { case (_, rows) => rows.count(_._3) }
    assert(reps.forall(_ == 1))
  }

  test("canonicalDocs keeps the argmax-quality copy per group, ties to min id") {
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L), // group 1: 2 and 3 tie on quality
      (4L, 5L),                        // singleton
      (7L, 9L), (8L, 11L)              // group 7: 8 wins outright
    ).toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val got = ConnectedComponents.canonicalDocs(docs, "doc_id", pairs, "quality")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got == Set(
      (1L, 1L, 10L, false), (2L, 1L, 30L, true), (3L, 1L, 30L, false),
      (4L, 4L, 5L, true),
      (7L, 7L, 9L, false), (8L, 7L, 11L, true)))
    // invariant: exactly one canonical row per group, never zero
    val perGroup = got.groupBy(_._2).map { case (_, rs) => rs.count(_._4) }
    assert(perGroup.forall(_ == 1))
  }

  test("giant skewed component: 20k-spoke hub + 512-node chain inside the log bound") {
    // the hub gives the neighbor-min groupBy one 20k-row key — the skew
    // shape of a boilerplate page at 100 TB; min is algebraic, so the
    // map-side combiner collapses it before the shuffle. The chain pins
    // the pointer-jumping bound: log2(513) ≈ 9 improving rounds, so
    // maxIter=11 fails if compression ever regresses to O(diameter).
    val star = (1L to 20000L).map(i => (0L, i))
    val chain = (100000L until 100512L).map(i => (i, i + 1))
    val got = labels(star ++ chain, maxIter = 11, session = rounds)
    assert(got.size == 20001 + 513)
    assert(got(0L) == 0L && (1L to 20000L).forall(got(_) == 0L))
    assert((100000L to 100512L).forall(got(_) == 100000L))
  }

  test("maxIter counts improving rounds only: a single pair converges at maxIter=1") {
    // round 1 improves (2 -> label 1), the uncounted confirming round
    // certifies — this used to throw because the confirming round
    // consumed the budget
    assert(labels(Seq((1L, 2L)), maxIter = 1, session = rounds) ==
      Map(1L -> 1L, 2L -> 1L))
  }

  test("driver and round paths both equal a BFS reference on random graphs") {
    // components are laid out at random (possibly overlapping, possibly
    // negative) offsets, so unions of them are disjoint or merged
    val offset = Gen.choose(-400L, 400L)
    val chain = for (n <- Gen.choose(2, 90); o <- offset)
      yield (0L until n - 1L).map(i => (o + i, o + i + 1))
    val clique = for (n <- Gen.choose(2, 7); o <- offset)
      yield for (i <- 0L until n; j <- i + 1 until n) yield (o + i, o + j)
    val star = for (n <- Gen.choose(1, 40); o <- offset)
      yield (1L to n).map(i => (o, o + i))
    val selfLoop = offset.map(o => Seq((o, o)))
    val graph = for {
      parts <- Gen.choose(1, 4).flatMap(Gen.listOfN(_,
        Gen.oneOf(chain, clique, star, selfLoop)))
      edges = parts.flatten
      dups <- Gen.someOf(edges)      // duplicate pairs
      flips <- Gen.someOf(edges)     // reversed pairs
    } yield edges ++ dups ++ flips.map(_.swap)
    // the shapes a random draw may miss: the empty pair set and a chain
    // of diameter >= 64 with negative ids
    val pinned = Seq(Seq.empty[(Long, Long)],
      (-70L until 0L).map(i => (i + 1, i)))
    def agrees(pairs: Seq[(Long, Long)]): Boolean = {
      val want = bfsLabels(pairs)
      labels(pairs) == want && labels(pairs, session = rounds) == want
    }
    pinned.foreach(p => assert(agrees(p), p))
    val result = Test.check(Test.Parameters.default
        .withMinSuccessfulTests(12).withInitialSeed(20261021L),
      Prop.forAllNoShrink(graph)(agrees))
    assert(result.passed, Pretty.pretty(result))
  }

  test("a small graph on the driver path runs two jobs: the cut and the collect") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    var got = Map.empty[Long, Long]
    val jobs = jobsOf {
      got = ConnectedComponents.componentLabels(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    // the final collect of the local label relation runs no job, so
    // every counted job belongs to componentLabels
    assert(jobs <= 2, s"$jobs jobs")
  }

  test("empty pair set: every document is its own singleton group") {
    val docs = Seq(1L, 2L).toDF("doc_id")
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = ConnectedComponents.dedupGroups(docs, "doc_id", pairs)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set((1L, 1L, true), (2L, 2L, true)))
  }

  test("pagerank: 2-cycle is the exact fixed point, hubs outrank leaves, dangling rank leaks") {
    import graft.operators.PageRank
    // symmetric 2-cycle: uniform 0.5 IS the fixed point — every
    // iteration returns it exactly (0.15/2 + 0.85*0.5 = 0.5)
    val cyc = PageRank.run(Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"),
        iterations = 10)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(cyc(1L) - 0.5) < 1e-12 && math.abs(cyc(2L) - 0.5) < 1e-12)

    // star: every leaf points at the hub, hub points back at leaf 2.
    // The hub and its return target share the flow (their 2-cycle
    // oscillates toward the fixed point); the pointed-at pair must
    // dwarf the teleport-only leaves 3..6
    val star = (2L to 6L).map(l => (l, 1L)) :+ (1L, 2L)
    val ranks = PageRank.run(star.toDF("src", "dst"), iterations = 10)
      .as[(Long, Double)].collect().toMap
    (3L to 6L).foreach { l =>
      assert(ranks(1L) > 5 * ranks(l) && ranks(2L) > 5 * ranks(l),
        ranks.toString)
    }
    // conservation: no dangling nodes here, so total rank stays 1
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9)

    // dangling chain 1 -> 2 -> 3: node 3 absorbs nothing to pass on,
    // so total rank leaks below 1 (the simplified-model contract)
    val chain = PageRank.run(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"),
        iterations = 10)
      .as[(Long, Double)].collect().toMap
    assert(chain.values.sum < 1.0 - 1e-6, chain.toString)
    assert(chain(3L) > chain(2L) && chain(2L) > chain(1L), chain.toString)
  }
}
