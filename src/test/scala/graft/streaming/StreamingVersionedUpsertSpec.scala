package graft.streaming

import java.sql.{Date, Timestamp}
import graft.SparkTestBase
import graft.pipeline.{Catalog, Schemas}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.Trigger

/** Streaming ingest into the VERSIONED partitioned catalog — the
  * reference pipeline's production shape (continuous loads MERGEd into a
  * symbol-partitioned Delta bronze with time travel) end to end on this
  * engine's pieces: a bounded file replay drives `foreachBatch`, every
  * micro-batch lands through `Catalog.upsert`'s partitioned manifest
  * commit, and afterwards EVERY batch boundary is a readable
  * version whose content equals the cumulative MERGE of the batches up
  * to it. Pins the composition the unit specs can't: exactly-once-shaped
  * replay ordering (batch k's pre-image is version k), touched-partition
  * isolation under streaming batch sizes, and version numbering driven
  * by micro-batch sequencing rather than caller calls. */
class StreamingVersionedUpsertSpec extends SparkTestBase {
  import spark.implicits._

  private def mkRow(symbol: String, date: String, close: Double, batch: Int): Row =
    Row(symbol, Date.valueOf(date), close, close + 1, close - 1, close, 100L,
      s"b$batch", Timestamp.valueOf("2026-01-01 00:00:00"), "f.csv")

  private def df(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(
        Schemas.bronze.map(_.copy(nullable = true))))
      .select("symbol", "date", "open", "high", "low", "close", "volume",
        "source", "ingested_at", "input_file")

  test("3 micro-batches MERGE into the partitioned catalog; every boundary is a version") {
    val staged = tmpDir("graft-stream-upsert")
    // batch 1: create AAA+BBB; batch 2: update AAA only; batch 3:
    // update BBB + create CCC — the same partition-isolation walk as the
    // batch churn spec, arriving as a STREAM
    val batches = Seq(
      Seq(mkRow("AAA", "2026-01-01", 10.0, 1), mkRow("BBB", "2026-01-01", 20.0, 1)),
      Seq(mkRow("AAA", "2026-01-01", 11.0, 2)),
      Seq(mkRow("BBB", "2026-01-01", 21.0, 3), mkRow("CCC", "2026-01-01", 30.0, 3)))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val dir = new java.io.File(staged, f"b$i%04d.parquet")
      df(rows).coalesce(1).write.parquet(dir.getPath)
      // mtime drives FileStreamSource ordering (the gate-staging idiom)
      val fs = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(fs.length == 1)
      assert(fs.head.setLastModified(1000000L * (i + 1)))
    }
    val wh = tmpDir("graft-stream-wh")
    val catalog = new Catalog(spark, wh)
    val t = Schemas.tables.bronze
    val schema = spark.read.parquet(s"$staged/b0000.parquet").schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1) // one staged file per micro-batch
      .parquet(s"$staged/[b]*.parquet")
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        catalog.upsert(b, t, keys = Seq("symbol", "date"),
          partitionBy = Seq("symbol"))
      }
      .option("checkpointLocation", s"${tmpDir("graft-stream-ck")}/ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    def snap(v: Long): Map[String, Double] =
      catalog.readAsOf(t, v).collect()
        .map(r => r.getAs[String]("symbol") -> r.getAs[Double]("close")).toMap
    assert(catalog.version(t) == 3, "each micro-batch must commit one version")
    assert(snap(1) == Map("AAA" -> 10.0, "BBB" -> 20.0))
    assert(snap(2) == Map("AAA" -> 11.0, "BBB" -> 20.0))
    assert(snap(3) == Map("AAA" -> 11.0, "BBB" -> 21.0, "CCC" -> 30.0))
    // partition isolation held under the stream: batch 2 touched only
    // AAA, so version 2 lists version 1's very BBB files and new AAA ones
    def in(v: Long, sym: String) =
      graft.pipeline.CatalogLayout.listed(wh, t, v).filter(_.startsWith(s"symbol=$sym/"))
    assert(in(2, "BBB") == in(1, "BBB") && in(1, "BBB").nonEmpty)
    assert(in(2, "AAA").intersect(in(1, "AAA")).isEmpty)
  }
}
