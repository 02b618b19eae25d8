package graft.layout

import graft.SparkTestBase
import graft.pipeline.Catalog
import org.apache.spark.sql.functions._

/** Layout operations: Z-order clustering earns tight per-file rectangles,
  * and compaction shrinks file counts without touching a row. */
class ZOrderCompactSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("z-clustered files cover tight rectangles on BOTH clustered columns") {
    import spark.implicits._
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(($"l_partkey" % 256).as("px"), ($"l_orderkey" % 256).as("ox"))
    val out = java.nio.file.Files.createTempDirectory("zorder").toString + "/t"
    ZOrder.write(li, Seq($"px", $"ox"), numFiles = 16, out)
    val ranges = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min($"px").as("minp"), max($"px").as("maxp"),
        min($"ox").as("mino"), max($"ox").as("maxo"))
      .collect()
    assert(ranges.length >= 8, s"expected >=8 files, got ${ranges.length}")
    // 16 Z-range files over a 256x256 grid: files must span well under
    // the full 255 extent on each axis (a single-column sort would leave
    // the OTHER axis at full width ~255 in EVERY file). Sampled range
    // boundaries need not align with Z-prefix boundaries, so a file that
    // straddles a major Z bit legitimately spans both halves of one axis —
    // allow a couple of straddlers, not a pattern.
    val loose = ranges.count { r =>
      (r.getAs[Long]("maxp") - r.getAs[Long]("minp")) > 128 ||
        (r.getAs[Long]("maxo") - r.getAs[Long]("mino")) > 128
    }
    assert(loose <= 2, s"$loose of ${ranges.length} files span >half the grid on an axis")
    // row content unchanged
    assert(spark.read.parquet(out).count() == li.count())
  }

  test("zValue interleaves correctly on known bit patterns") {
    import spark.implicits._
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (255L, 255L))
      .toDF("a", "b")
      .select(ZOrder.zValue(Seq($"a", $"b")).as("z"))
      .collect().map(_.getLong(0))
    // interleave(a=bit j at 2i, b at 2i+1): (1,0)->1, (0,1)->2,
    // (3,5)=(011,101)->b1a1 pairs: a=3 -> 1+4, b=5 -> 2+0+32 -> 39
    assert(rows.toSeq == Seq(0L, 1L, 2L, 39L, 65535L))
  }

  test("compaction merges small files crash-safely and preserves all rows") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("compact").toString
    val cat = new Catalog(spark, wh)
    // simulate many tiny appended batches
    (0 until 8).foreach { i =>
      cat.append(Seq.tabulate(100)(k => (i * 100 + k, s"v$k")).toDF("id", "v"),
        "t", Nil)
    }
    // the live files: those the current version lists
    def files() = cat.read("t").inputFiles.length
    val before = files()
    assert(before >= 8, s"expected >=8 small files, got $before")
    val beforeRows = cat.read("t").orderBy("id").collect().toSeq
    // a compaction that dies with its file in place leaves the table as it was
    cat.crashHook = { case "moved" => throw new RuntimeException("simulated crash")
                      case _ => }
    intercept[RuntimeException](cat.compact("t", targetRowsPerFile = 1000000L))
    cat.crashHook = _ => ()
    assert(files() == before && cat.version("t") == 8)
    assert(cat.read("t").orderBy("id").collect().toSeq == beforeRows)
    cat.compact("t", targetRowsPerFile = 1000000L)
    assert(files() == 1, s"expected 1 compacted file, got ${files()}")
    assert(cat.read("t").orderBy("id").collect().toSeq == beforeRows)
    assert(graft.pipeline.CatalogLayout.unlisted(wh, "t").isEmpty)
  }

  test("partitioned compaction sizes files per directory, not per table") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("compactp").toString
    val cat = new Catalog(spark, wh)
    // skewed partitions: 'hot' has 10x the rows of 'cold'
    (0 until 6).foreach { i =>
      val rows = Seq.tabulate(500)(k => ("hot", i * 1000 + k, s"v$k")) ++
        Seq.tabulate(50)(k => ("cold", i * 1000 + k, s"v$k"))
      cat.append(rows.toDF("part", "id", "v"), "t", Seq("part"))
    }
    def files(p: String) = cat.read("t").inputFiles.count(_.contains(s"/part=$p/"))
    assert(files("hot") >= 6 && files("cold") >= 6)
    val before = cat.read("t").orderBy("part", "id").collect().toSeq
    cat.compact("t", partitionBy = Seq("part"), targetRowsPerFile = 1000L)
    // hot: 3000 rows / 1000 => 3 files; cold: 300 rows => 1 file. The
    // hash spread can leave a bucket empty, so assert bounds, and assert
    // the hot directory did NOT collapse into one oversized file
    assert(files("hot") >= 2 && files("hot") <= 3,
      s"hot dir got ${files("hot")} files, want ~3 (one-task collapse would give 1)")
    assert(files("cold") == 1, s"cold dir got ${files("cold")} files, want 1")
    assert(cat.read("t").orderBy("part", "id").collect().toSeq == before)
  }
}
