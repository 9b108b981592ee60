package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.Registry
import graft.operators.SkewJoin
import graft.streaming.{EventStreams, StatefulOps}

class ExtensionsSkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("registered SQL functions parse and match the column API") {
    val r = spark.sql(
      """SELECT rolling_hash31('hello') AS rh, fnv1a32('hello') AS fnv,
        |       shingle_array(array('a','b','c','b','c'), 2) AS sh,
        |       array_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cos,
        |       minhash_sigs(array('a b', 'b c'), 4) AS mh,
        |       sign_projections(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT)), 4, 2, 2) AS sp
        |""".stripMargin).head()
    assert(r.getAs[Long]("rh") == graft.functions.RollingHash31.hash("hello"))
    assert(r.getAs[Long]("fnv") == graft.functions.Fnv1a32.hash("hello".getBytes))
    assert(r.getSeq[String](2).toSeq == Seq("a b", "b c", "c b"))
    assert(r.getAs[Double]("cos") == 1.0)
    assert(r.getSeq[Long](4).size == 4)
    assert(r.getSeq[Long](5).size == 2) // one bucket per table
  }

  test("sign_projections rejects non-floating arrays at analysis time") {
    val e = intercept[Exception] {
      spark.sql("SELECT sign_projections(array(1, 2, 3), 4, 2, 3)").collect()
    }
    assert(e.getMessage.contains("array<float> or array<double>"),
      s"unexpected: ${e.getMessage}")
  }

  test("GraftExtensions injects the function set") {
    // applying the extension to a bare extensions object must not throw
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(e)
    // the shared session is built with GraftExtensions, so these are the
    // functions it injected
    Seq("rolling_hash31", "fnv1a32", "shingle_array", "array_cosine",
      "minhash_sigs", "sign_projections", "zorder_key", "bloom_might_contain",
      "normalize_nfc", "array_int_dot", "shingle_rows").foreach { f =>
      assert(spark.catalog.functionExists(f), f)
    }
  }

  test("salted join equals plain join (correctness under salting)") {
    val large = spark.read.parquet(s"${TestSpark.sf0001}/lineitem.parquet")
      .select($"l_orderkey".as("k"), $"l_quantity")
    val small = spark.read.parquet(s"${TestSpark.sf0001}/orders.parquet")
      .select($"o_orderkey".as("k"), $"o_orderpriority")
    val plain = large.join(small, Seq("k"))
      .groupBy("o_orderpriority").agg(round(sum("l_quantity"), 2).as("s"))
      .orderBy("o_orderpriority").collect().toSeq
    val salted = SkewJoin.saltedJoin(large, small, "k", salts = 8)
      .groupBy("o_orderpriority").agg(round(sum("l_quantity"), 2).as("s"))
      .orderBy("o_orderpriority").collect().toSeq
    assert(plain == salted)
  }

  test("stateful streaming running totals converge to the batch aggregate") {
    val streamed = EventStreams.runToMemory(spark, TestSpark.sf0001,
      "t_state", "update")(df => StatefulOps.runningUserTotals(df).toDF())
    // update mode emits one row per key per micro-batch; the LAST row per
    // key is the converged state
    val last = streamed.groupBy("user_id")
      .agg(max(struct($"n_events", $"total_value")).as("s"))
      .select($"user_id", $"s.n_events", round($"s.total_value", 2).as("tv"))
      .as[(Long, Long, Double)].collect().toMap2
    val batch = graft.api.Tables.t(spark, TestSpark.sf0001, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("tv"))
      .as[(Long, Long, Double)].collect().toMap2
    assert(last == batch)
  }

  test("streaming gap fill equals the batch twin minus each user's final day") {
    val streamed = EventStreams.runToMemory(spark, TestSpark.sf0001,
      "t_gapfill", "append")(df => StatefulOps.gapFillStream(df).toDF())
      .select($"user_id", $"day", round($"day_value", 2).as("v"), $"is_gap")
      .as[(Long, java.sql.Date, Double, Boolean)].collect().toSet
    val events = graft.api.Tables.t(spark, TestSpark.sf0001, "events")
    val daily = events.groupBy($"user_id", to_date($"ts").as("day"))
      .agg(sum("value").as("day_value"))
    val batch = graft.operators.GapFill
      .dailyLocf(daily, "user_id", "day", "day_value")
      .select($"user_id", $"day", round($"day_value", 2).as("v"), $"is_gap")
      .as[(Long, java.sql.Date, Double, Boolean)].collect().toSeq
    val lastDay = batch.groupBy(_._1).view.mapValues(_.map(_._2.getTime).max).toMap
    // each user's final observed day has no successor -> not yet emitted
    val expected = batch.filter { case (u, d, _, _) =>
      d.getTime != lastDay(u)
    }.toSet
    assert(streamed == expected)
    assert(streamed.exists(_._4), "expected at least one gap row")
  }

  test("streaming sessionization emits exactly the batch sessions closed by the watermark") {
    val streamed = EventStreams.runToMemory(spark, TestSpark.sf0001,
      "t_sessions", "append")(df => StatefulOps.sessionizeStream(df, 1800).toDF())
      .as[(Long, Long, Long, Long)].collect().toSet
    val events = graft.api.Tables.t(spark, TestSpark.sf0001, "events")
    // the watermark is millisecond-precision: floor-second maxTs would
    // mis-model timeout firing at one-second boundaries
    val wmMs = events.agg(max(unix_millis($"ts"))).head().getLong(0) - 600000L
    val sessions = graft.operators.Sessionize
      .sessions(events, "user_id", "ts", 1800)
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val lastStart = sessions.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    // expected = gap-closed sessions (a successor exists -> emitted in-band)
    //          + final sessions whose timeout fired before the terminal watermark
    val expected = sessions.filter { case (u, start, end, _) =>
      start != lastStart(u) || (end + 1800) * 1000 < wmMs
    }.toSet
    assert(streamed == expected)
    assert(streamed.nonEmpty)
  }

  test("streaming built-in session_window emits the batch sessions closed by the watermark (q40 twin)") {
    val streamed = EventStreams.runToMemory(spark, TestSpark.sf0001,
      "t_swin", "append")(EventStreams.sessionCounts)
      .as[(Long, Long, Long, Long)].collect().toSet
    val events = graft.api.Tables.t(spark, TestSpark.sf0001, "events")
    val batch = events
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", unix_micros($"w.start").as("s"),
        unix_micros($"w.end").as("e"), $"n_events")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // watermark is ms-precision; a session emits once the watermark passes
    // its end (end = last event + gap, so no later event can extend it)
    val wmUs = (events.agg(max(unix_millis($"ts"))).head().getLong(0)
      - 1800000L) * 1000
    val expected = batch.filter(_._3 < wmUs).toSet
    assert(streamed == expected)
    assert(streamed.nonEmpty)
    // cross-check against the oracle-checked batch registry entry
    val q40 = Registry.byName("q40_session_window").run(spark, TestSpark.sf0001)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed.map(t => (t._1, t._2, t._4)).subsetOf(q40))
  }

  implicit class Tup3Ops[A, B, C](s: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = s.map(t => t._1 -> (t._2, t._3)).toMap
  }
}
