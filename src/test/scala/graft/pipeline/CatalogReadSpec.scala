package graft.pipeline

import java.sql.{Date, Timestamp}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkTestBase
import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col

/** The read path: a version is read from its manifest alone. Building the
  * DataFrame starts no Spark job even past the 32 paths at which a listed
  * read starts a listing job, partition filters still prune to the
  * partition's files, and a reader never waits for a commit. */
class CatalogReadSpec extends SparkTestBase {
  import CatalogLayout._

  private val t = Schemas.tables.bronze
  private val symbols = (0 until 24).map(i => f"S$i%02d")

  private def df(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      org.apache.spark.sql.types.StructType(Schemas.bronze.map(_.copy(nullable = true))))

  private def day(d: Int): Seq[Row] = symbols.map { s =>
    Row(s, Date.valueOf(f"2026-01-$d%02d"), 1.0 * d, 2.0 * d, 0.5 * d, 1.0 * d, 100L,
      "t", Timestamp.valueOf("2026-02-01 00:00:00"), "f.csv")
  }

  /** 24 symbol partitions: version k holds days 1..k, one file per
    * partition per day (72 files at version 3). */
  private def threeDays(): (String, Catalog) = {
    val wh = tmpDir("graft-read")
    val catalog = new Catalog(spark, wh)
    catalog.upsert(df(day(1)), t, keys = Seq("symbol", "date"), partitionBy = Seq("symbol"))
    catalog.append(df(day(2)), t, Seq("symbol"))
    catalog.append(df(day(3)), t, Seq("symbol"))
    assert(listed(wh, t, 2).size == 48 && listed(wh, t, 3).size == 72)
    (wh, catalog)
  }

  test("read and readAsOf of a 24-partition table over 32 files start no Spark job") {
    val (wh, catalog) = threeDays()
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(counter)
    try {
      BusDrain.drain(sc)
      val j0 = jobs.get()
      val cur = catalog.read(t)
      val old = catalog.readAsOf(t, 2)
      cur.queryExecution.executedPlan
      old.queryExecution.executedPlan
      assert(scanned(cur, t) == listed(wh, t, 3))
      assert(scanned(old, t) == listed(wh, t, 2))
      assert(cur.schema.fieldNames.toSeq == Schemas.bronze.fieldNames.toSeq)
      BusDrain.drain(sc)
      assert(jobs.get() == j0, s"building the reads started ${jobs.get() - j0} jobs")
      // the counter counts: scanning is a job
      assert(old.count() == 48L)
      BusDrain.drain(sc)
      assert(jobs.get() > j0)
    } finally sc.removeSparkListener(counter)
  }

  test("a symbol filter prunes the scan to that partition's files") {
    val (wh, catalog) = threeDays()
    val q = catalog.readAsOf(t, 2).filter(col("symbol") === "S07")
    val scan = PlanGuards.flatten(q.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }.head
    val dirs = scan.relation.location.listFiles(scan.partitionFilters, Nil)
    val root = ("^.*/" + java.util.regex.Pattern.quote(t) + "/").r
    val files = dirs.flatMap(_.files.map(f => root.replaceFirstIn(f.getPath.toUri.getPath, "")))
    assert(dirs.size == 1)
    assert(files.toSet == listed(wh, t, 2).filter(_.startsWith("symbol=S07/")))
    assert(files.size == 2)
    assert(q.collect().map(_.getAs[Date]("date").toString).sorted.toSeq ==
      Seq("2026-01-01", "2026-01-02"))
  }

  test("a reader inside the commit window reads version N whole without waiting") {
    val wh = tmpDir("graft-inflight")
    val writer = new Catalog(spark, wh)
    val reader = new Catalog(spark, wh)
    writer.upsert(df(day(1)), t, keys = Seq("symbol", "date"), partitionBy = Seq("symbol"))
    var during: scala.util.Try[(Long, Long)] = null
    var waited = true
    var dirty = false
    // the worst window: every new file renamed in beside the live ones,
    // the commit lock held, no manifest yet
    writer.crashHook = {
      case "moved" =>
        dirty = unlisted(wh, t).size == symbols.size
        val th = new Thread(() =>
          during = scala.util.Try((reader.version(t), reader.read(t).count())))
        th.start()
        th.join(120000)
        waited = th.isAlive
        th.join()
      case _ =>
    }
    writer.append(df(day(2)), t, Seq("symbol"))
    writer.crashHook = _ => ()
    assert(dirty, "the new files were in place during the read")
    assert(!waited, "the reader must not wait for the commit lock")
    assert(during.get == ((1L, 24L)), "the reader sees version 1 whole")
    assert(writer.version(t) == 2)
    assert(reader.read(t).count() == 48L)
  }
}
