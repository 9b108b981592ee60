package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Fns, ZOrderKey}

class ZOrderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("interleave goldens: bits land on even (x) / odd (y) positions") {
    assert(ZOrderKey.interleave16(0L, 0L) == 0L)
    assert(ZOrderKey.interleave16(1L, 0L) == 1L)
    assert(ZOrderKey.interleave16(0L, 1L) == 2L)
    // x=0b101, y=0b011 -> 1 + 2 + 8 + 16 = 27
    assert(ZOrderKey.interleave16(5L, 3L) == 27L)
    // only the low 16 bits participate
    assert(ZOrderKey.interleave16(0xffffL, 0xffffL) == 0xffffffffL)
    assert(ZOrderKey.interleave16(0x1ffffL, 0L) ==
      ZOrderKey.interleave16(0xffffL, 0L))
  }

  test("expression evaluates identically through codegen and directly") {
    val rnd = new scala.util.Random(7)
    val pts = Seq.fill(300)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = pts.toDF("x", "y")
      .select($"x", $"y", Fns.zorderKey($"x", $"y").as("z"))
      .collect()
    got.foreach(r => assert(r.getLong(2) ==
      ZOrderKey.interleave16(r.getLong(0), r.getLong(1))))
  }

  test("zorder_key parses as a SQL function") {
    val z = spark.sql("SELECT zorder_key(5L, 3L) AS z").head().getLong(0)
    assert(z == 27L)
  }

  test("z-order layout: contiguous key chunks have tight 2-D bounding boxes") {
    // a full 64x64 grid split into 64-point chunks: z-order gives square
    // 8x8 chunk bboxes; row-major order gives 1x64 stripes. The bbox
    // half-perimeter bounds the min/max stats width a parquet file would
    // carry under each layout — z-order prunes on BOTH dimensions.
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y => (x.toLong, y.toLong)))
    val byZ = grid.sortBy { case (x, y) => ZOrderKey.interleave16(x, y) }
    val byRowMajor = grid.sortBy { case (x, y) => x * 64 + y }
    def worstBBox(sorted: Seq[(Long, Long)]) =
      sorted.grouped(64).map { chunk =>
        val (xs, ys) = chunk.unzip
        (xs.max - xs.min) + (ys.max - ys.min)
      }.max
    assert(worstBBox(byZ) == 14L)        // 8x8 squares: (8-1) + (8-1)
    assert(worstBBox(byRowMajor) == 63L) // 1x64 stripes: 0 + 63
  }
}
