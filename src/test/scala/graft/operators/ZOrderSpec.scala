package graft.operators

import graft.SparkTestBase
import graft.layout.ZOrder
import org.apache.spark.sql.functions._

/** [[graft.layout.ZOrder]] — the Morton clustering key: the unrolled column
  * arithmetic must match a bit-twiddling reference exactly, the bucket
  * arithmetic must match integer division exactly (the double-division
  * identity it is built on), and the layout must actually cluster: over
  * random 2-d boxes, per-file min/max pruning under the z layout reads
  * no more files than the linear layout on average, and strictly fewer
  * on boxes selective in the SECOND dimension (where a linear layout
  * prunes nothing). */
class ZOrderSpec extends SparkTestBase {
  import spark.implicits._

  private def refInterleave(x: Long, y: Long, bits: Int): Long =
    (0 until bits).foldLeft(0L) { (acc, i) =>
      acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }

  test("zValue of two columns matches the bit-twiddling Morton reference") {
    val pts = (for {
      x <- Seq(0L, 1L, 2L, 127L, 128L, 254L, 255L)
      y <- Seq(0L, 1L, 3L, 63L, 128L, 200L, 255L)
    } yield (x, y)) ++ {
      val rng = new scala.util.Random(0x20DE12L)
      Seq.fill(500)((rng.nextInt(256).toLong, rng.nextInt(256).toLong))
    }
    val got = pts.toDF("x", "y")
      .withColumn("z", ZOrder.zValue(Seq($"x", $"y"), 8))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) =>
      assert(got((x, y)) == refInterleave(x, y, 8),
        s"zValue($x, $y) = ${got((x, y))}, want ${refInterleave(x, y, 8)}")
    }
    // bucketed longs, as q366 feeds them: over [0, 255] the 8-bit bucket
    // is the identity, so (3, 5) must give the hand-computed 39
    // (x=011 -> 1+4, y=101 -> 2+32); over a wide domain the z-value must
    // equal the reference interleave of the integer-division buckets
    val rng = new scala.util.Random(0x3D0B1EL)
    val (lo, hi) = (-500L, 6006L)
    val raw = Seq((3L, 5L, 0L, 255L), (255L, 255L, 0L, 255L)) ++
      Seq.fill(200)((lo + rng.nextInt(6507), lo + rng.nextInt(6507), lo, hi))
    val bz = raw.toDF("x", "y", "lo", "hi")
      .select(ZOrder.zValue(Seq(ZOrder.bucket($"x", $"lo", $"hi", 8),
        ZOrder.bucket($"y", $"lo", $"hi", 8)), 8))
      .collect().map(_.getLong(0)).toSeq
    assert(bz.take(2) == Seq(39L, 65535L))
    raw.zip(bz).foreach { case ((x, y, l, h), z) =>
      def b(v: Long) = (v - l) * 256L / (h - l + 1L)
      assert(z == refInterleave(b(x), b(y), 8),
        s"zValue(bucket($x), bucket($y)) = $z, want ${refInterleave(b(x), b(y), 8)}")
    }
  }

  test("bucket equals integer division on hostile near-boundary domains") {
    val rng = new scala.util.Random(0xB0C4E7L)
    // domains whose width does NOT divide the numerator cleanly — the
    // shapes where naive double division could round across an integer
    val cases = Seq((0L, 6007L), (17L, 99999L), (1L, 3L), (-500L, 499L)) ++
      Seq.fill(20)((rng.nextInt(1000).toLong, 1000L + rng.nextInt(100000).toLong))
    cases.foreach { case (lo, hi) =>
      val vs = Seq(lo, hi, (lo + hi) / 2) ++
        Seq.fill(50)(lo + math.abs(rng.nextLong()) % (hi - lo + 1))
      val got = vs.toDF("v")
        .withColumn("b", ZOrder.bucket($"v", lit(lo), lit(hi), 8))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      vs.foreach { v =>
        val want = (v - lo) * 256L / (hi - lo + 1L)
        assert(got(v) == want, s"bucket($v, [$lo,$hi]) = ${got(v)}, want $want")
        assert(want >= 0L && want <= 255L)
      }
    }
  }

  test("z layout prunes second-dimension boxes a linear layout cannot") {
    // a uniform 64×64 grid of points into 32 files of 128 rows each
    val rng = new scala.util.Random(0x5CA77E8L)
    val pts = (0 until 4096).map { i =>
      (i.toLong, (i % 64).toLong, (i / 64).toLong)
    }
    val df = pts.toDF("id", "xb", "yb")
      .withColumn("zv", ZOrder.zValue(Seq($"xb", $"yb"), 6))
    def fileStats(order: Seq[org.apache.spark.sql.Column]) =
      DistributedScan.rowNumbers(df, order, "rn")
        .withColumn("f", (($"rn" - 1L - pmod($"rn" - 1L, lit(128L))) / 128L)
          .cast("long"))
        .groupBy($"f")
        .agg(min($"xb").as("x0"), max($"xb").as("x1"),
          min($"yb").as("y0"), max($"yb").as("y1"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val zf = fileStats(Seq($"zv", $"id"))
    val lf = fileStats(Seq($"xb", $"id"))
    def scanned(fs: Array[(Long, Long, Long, Long)],
        bx: (Long, Long), by: (Long, Long)): Int =
      fs.count { case (x0, x1, y0, y1) =>
        x0 <= bx._2 && x1 >= bx._1 && y0 <= by._2 && y1 >= by._1 }
    // boxes selective ONLY in y: linear (x-sorted) files all span full y,
    // so they all overlap; z files bound y and must prune
    val yOnly = (0 until 10).map { _ =>
      val y0 = rng.nextInt(48).toLong; ((0L, 63L), (y0, y0 + 15L))
    }
    yOnly.foreach { case (bx, by) =>
      val (zs, ls) = (scanned(zf, bx, by), scanned(lf, bx, by))
      assert(ls == zf.length, s"linear must scan everything for y-box $by")
      assert(zs < ls, s"z must prune y-box $by: z=$zs linear=$ls")
    }
    // random 2-d boxes: z never does worse on average
    val boxes = (0 until 50).map { _ =>
      val x0 = rng.nextInt(48).toLong; val y0 = rng.nextInt(48).toLong
      ((x0, x0 + 15L), (y0, y0 + 15L))
    }
    val zTot = boxes.map(b => scanned(zf, b._1, b._2)).sum
    val lTot = boxes.map(b => scanned(lf, b._1, b._2)).sum
    assert(zTot <= lTot, s"z layout scanned $zTot file-reads vs linear $lTot")
  }
}
