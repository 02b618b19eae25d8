package graft.pipeline

import java.sql.{Date, Timestamp}
import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Dynamic-partition upsert: only touched partitions rewrite; untouched
  * partition files stay byte-identical on disk (the 100 TB MERGE story —
  * a daily batch must not rewrite the table image). Also the commit's
  * crash, versioning, append and concurrent-writer guarantees. */
class CatalogUpsertSpec extends SparkTestBase {
  import CatalogLayout._

  private def mkRow(symbol: String, date: String, close: Double, ingested: String): Row =
    Row(symbol, Date.valueOf(date), close, close + 1, close - 1, close, 100L,
      "test", Timestamp.valueOf(ingested), "f.csv")

  private def df(rows: Row*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 2),
      org.apache.spark.sql.types.StructType(
        Schemas.bronze.map(_.copy(nullable = true))))
      .select("symbol", "date", "open", "high", "low", "close", "volume",
        "source", "ingested_at", "input_file")

  test("upsert rewrites only touched partitions; incoming wins on key") {
    val wh = tmpDir("graft-upsert")
    val catalog = new Catalog(spark, wh)
    val t = Schemas.tables.bronze

    catalog.upsert(df(
      mkRow("AAA", "2026-01-01", 10.0, "2026-01-02 00:00:00"),
      mkRow("AAA", "2026-01-02", 11.0, "2026-01-02 00:00:00"),
      mkRow("BBB", "2026-01-01", 20.0, "2026-01-02 00:00:00")),
      t, keys = Seq("symbol", "date"), partitionBy = Seq("symbol"))

    def files(sym: String): Map[String, Long] = {
      val d = new java.io.File(s"$wh/$t/symbol=$sym")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val bbbBefore = files("BBB")
    Thread.sleep(1100) // lastModified resolution

    // batch 2 touches only AAA: updates one key, inserts another
    catalog.upsert(df(
      mkRow("AAA", "2026-01-02", 99.0, "2026-01-03 00:00:00"),
      mkRow("AAA", "2026-01-03", 12.0, "2026-01-03 00:00:00")),
      t, keys = Seq("symbol", "date"), partitionBy = Seq("symbol"))

    assert(files("BBB") == bbbBefore) // untouched partition: identical files
    // and version 2 lists version 1's BBB files as they are
    def bbb(v: Long) = listed(wh, t, v).filter(_.startsWith("symbol=BBB/"))
    assert(bbb(2) == bbb(1) && bbb(1).nonEmpty)

    val out = catalog.read(t)
    assert(out.count() == 4) // 3 AAA + 1 BBB
    val updated = out.filter(col("symbol") === "AAA" &&
      col("date") === Date.valueOf("2026-01-02")).collect()
    assert(updated.length == 1 && updated.head.getAs[Double]("close") == 99.0)
  }

  test("upsert is idempotent: same batch twice leaves counts unchanged") {
    val wh = tmpDir("graft-upsert2")
    val catalog = new Catalog(spark, wh)
    val t = Schemas.tables.bronze
    val batch = df(
      mkRow("AAA", "2026-01-01", 10.0, "2026-01-02 00:00:00"),
      mkRow("BBB", "2026-01-01", 20.0, "2026-01-02 00:00:00"))
    catalog.upsert(batch, t, Seq("symbol", "date"), Seq("symbol"))
    catalog.upsert(batch, t, Seq("symbol", "date"), Seq("symbol"))
    assert(catalog.read(t).count() == 2)
  }

  test("worst-case batch touching EVERY partition merges exactly at high partition counts") {
    // the upsert's only driver-sized structure is the touched-partition
    // value list; this pins the semantics when that list is large (every
    // partition touched: one update + one insert per partition). The
    // measured ceiling lives in SCALE.md §Round-8 partition-count ceiling:
    // 1k parts 19.0 s / 10k parts 194.9 s — linear in partition count
    // (~19 ms/partition, local-FS directory writes), driver heap delta
    // 10.5 -> 74 MB (metadata-shaped, not data-sized).
    val n = 400
    val wh = tmpDir("graft-upsert4")
    val catalog = new Catalog(spark, wh)
    val base = spark.range(n.toLong * 2)
      .select(concat(lit("s"), col("id") % n).as("symbol"),
        (col("id") / n).cast("long").as("d"), lit(1.0).as("v"))
    catalog.upsert(base, "wide", Seq("symbol", "d"), Seq("symbol"))
    val batch = spark.range(n.toLong * 2)
      .select(concat(lit("s"), col("id") % n).as("symbol"),
        when(col("id") < n, lit(0L)).otherwise(lit(2L)).as("d"),
        lit(2.0).as("v"))
    catalog.upsert(batch, "wide", Seq("symbol", "d"), Seq("symbol"))
    val out = catalog.read("wide")
    assert(out.count() == n.toLong * 3) // 2 base rows + 1 insert per partition
    assert(out.filter(col("d") === 0 && col("v") === 2.0).count() == n) // all updates won
    assert(out.filter(col("d") === 1 && col("v") === 1.0).count() == n) // untouched keys kept
    assert(out.filter(col("d") === 2).count() == n) // all inserts landed
  }

  // the dead writer's files are healed away by the next commit's cleanup;
  // until then the manifest keeps readers on the prior version
  test("a crash mid-swap never loses the table: heal restores, retry lands") {
    val wh = tmpDir("graft-upsert3")
    val catalog = new Catalog(spark, wh)
    val t = Schemas.tables.bronze
    // non-partitioned layout (partitionBy does not include a key column's
    // partition head) -> the commit replaces every live file
    catalog.upsert(df(
      mkRow("AAA", "2026-01-01", 10.0, "2026-01-02 00:00:00"),
      mkRow("BBB", "2026-01-01", 20.0, "2026-01-02 00:00:00")),
      t, keys = Seq("symbol", "date"), partitionBy = Seq.empty)
    assert(catalog.read(t).count() == 2)

    // die at the worst point: the new files renamed in beside the live
    // ones, no manifest written yet
    catalog.crashHook = { case "moved" => throw new RuntimeException("simulated crash")
                          case _ => }
    val crashed = intercept[RuntimeException] {
      catalog.upsert(df(mkRow("AAA", "2026-01-01", 99.0, "2026-01-03 00:00:00")),
        t, keys = Seq("symbol", "date"), partitionBy = Seq.empty)
    }
    assert(crashed.getMessage == "simulated crash")

    // the dead writer's file sits in the table directory, but no manifest
    // lists it: the table is whole, at exactly its prior version
    assert(unlisted(wh, t).nonEmpty)
    val survived = catalog.read(t)
    assert(scanned(survived, t) == listed(wh, t, 1))
    assert(survived.count() == 2)
    assert(survived.filter(col("symbol") === "AAA").head.getAs[Double]("close") == 10.0)
    assert(catalog.version(t) == 1)

    // the retry applies the update and deletes the dead writer's leftovers
    catalog.crashHook = _ => ()
    catalog.upsert(df(mkRow("AAA", "2026-01-01", 99.0, "2026-01-03 00:00:00")),
      t, keys = Seq("symbol", "date"), partitionBy = Seq.empty)
    val out = catalog.read(t)
    assert(out.count() == 2)
    assert(out.filter(col("symbol") === "AAA").head.getAs[Double]("close") == 99.0)
    assert(catalog.version(t) == 2)
    assert(catalog.readAsOf(t, 1).filter(col("symbol") === "AAA")
      .head.getAs[Double]("close") == 10.0)
    assert(unlisted(wh, t).isEmpty && stages(wh, t).isEmpty)
  }

  test("versioned reads: a reader pinned to version k is byte-stable across upserts") {
    val wh = tmpDir("graft-vread")
    val catalog = new Catalog(spark, wh)
    val t = Schemas.tables.bronze
    def upsert(close: Double, day: String): Unit =
      catalog.upsert(df(mkRow("AAA", day, close, "2026-01-02 00:00:00")),
        t, keys = Seq("symbol", "date"), partitionBy = Seq.empty)

    upsert(10.0, "2026-01-01")          // v1
    assert(catalog.version(t) == 1)
    upsert(20.0, "2026-01-01")          // v2
    assert(catalog.version(t) == 2)

    // pin version 1 and fingerprint its files on disk
    def snapFiles(): Map[String, (Long, Long)] = stamps(wh, t, listed(wh, t, 1))
    val filesBefore = snapFiles()
    val pinnedBefore = catalog.readAsOf(t, 1)
      .select(col("symbol"), col("date"), col("close")).collect().toSeq

    // two more concurrent-writer commits move the live table twice
    upsert(30.0, "2026-01-01")          // v3
    upsert(40.0, "2026-01-02")          // v4
    assert(catalog.version(t) == 4)

    // version 1 is byte-identical on disk and value-identical on read
    assert(snapFiles() == filesBefore, "pinned snapshot files moved or rewrote")
    assert(scanned(catalog.readAsOf(t, 1), t) == filesBefore.keySet)
    assert(catalog.readAsOf(t, 1)
      .select(col("symbol"), col("date"), col("close")).collect().toSeq == pinnedBefore)
    assert(catalog.readAsOf(t, 1).head.getAs[Double]("close") == 10.0)
    assert(catalog.readAsOf(t, 3).filter(col("date") === Date.valueOf("2026-01-01"))
      .head.getAs[Double]("close") == 30.0)
    // asOf the live version resolves the live image
    assert(catalog.readAsOf(t, 4).count() == 2)

    // past the retention horizon / into the future: loud, never silent
    intercept[IllegalArgumentException] { catalog.readAsOf(t, 9) }
    val tight = new Catalog(spark, tmpDir("graft-vread2"), retainVersions = 1)
    tight.upsert(df(mkRow("AAA", "2026-01-01", 1.0, "2026-01-02 00:00:00")),
      t, keys = Seq("symbol", "date"), partitionBy = Seq.empty)
    tight.upsert(df(mkRow("AAA", "2026-01-01", 2.0, "2026-01-02 00:00:00")),
      t, keys = Seq("symbol", "date"), partitionBy = Seq.empty)
    tight.upsert(df(mkRow("AAA", "2026-01-01", 3.0, "2026-01-02 00:00:00")),
      t, keys = Seq("symbol", "date"), partitionBy = Seq.empty)
    assert(tight.readAsOf(t, 2).head.getAs[Double]("close") == 2.0) // retained
    intercept[IllegalArgumentException] { tight.readAsOf(t, 1) }    // pruned
  }

  test("a crash with older versions retained leaves every retained version readable") {
    // with older versions retained, a commit that dies must leave the
    // current version AND every retained one readable, and the retry must
    // number on top of them
    val wh = tmpDir("graft-vheal")
    val catalog = new Catalog(spark, wh)
    val t = Schemas.tables.bronze
    def upsert(close: Double): Unit =
      catalog.upsert(df(mkRow("AAA", "2026-01-01", close, "2026-01-02 00:00:00")),
        t, keys = Seq("symbol", "date"), partitionBy = Seq.empty)
    upsert(1.0)                          // v1
    upsert(2.0)                          // v2
    catalog.crashHook = { case "moved" => throw new RuntimeException("simulated crash")
                          case _ => }
    intercept[RuntimeException] { upsert(3.0) } // dies with its file in place
    catalog.crashHook = _ => ()
    assert(catalog.read(t).head.getAs[Double]("close") == 2.0)
    assert(catalog.version(t) == 2)
    assert(catalog.readAsOf(t, 1).head.getAs[Double]("close") == 1.0)
    // retry applies normally on top of version 2
    upsert(3.0)
    assert(catalog.version(t) == 3)
    assert(catalog.readAsOf(t, 2).head.getAs[Double]("close") == 2.0)
    assert(catalog.read(t).head.getAs[Double]("close") == 3.0)
    assert(unlisted(wh, t).isEmpty)
  }

  test("PARTITIONED versioned reads: per-partition time travel, untouched files shared") {
    val wh = tmpDir("graft-pvread")
    val catalog = new Catalog(spark, wh)
    val t = Schemas.tables.bronze
    def up(rows: Row*): Unit =
      catalog.upsert(df(rows: _*), t, keys = Seq("symbol", "date"),
        partitionBy = Seq("symbol"))
    // v1: AAA=10, BBB=20, DDD=40 (DDD is never touched again — every
    // versioned read must carry MULTIPLE untouched live partitions, the
    // shape that catches a per-root collapse in the dir grouping).
    // v2 touches only AAA (update + new date). v3 touches BBB (update)
    // and creates CCC.
    up(mkRow("AAA", "2026-01-01", 10.0, "2026-01-02 00:00:00"),
      mkRow("BBB", "2026-01-01", 20.0, "2026-01-02 00:00:00"),
      mkRow("DDD", "2026-01-01", 40.0, "2026-01-02 00:00:00"))
    up(mkRow("AAA", "2026-01-01", 11.0, "2026-01-03 00:00:00"),
      mkRow("AAA", "2026-01-02", 12.0, "2026-01-03 00:00:00"))
    up(mkRow("BBB", "2026-01-01", 21.0, "2026-01-04 00:00:00"),
      mkRow("CCC", "2026-01-01", 30.0, "2026-01-04 00:00:00"))
    assert(catalog.version(t) == 3)
    def snap(v: Long): Map[(String, String), Double] =
      catalog.readAsOf(t, v).collect()
        .map(r => (r.getAs[String]("symbol"),
          r.getAs[Date]("date").toString) -> r.getAs[Double]("close")).toMap
    assert(snap(1) == Map(("AAA", "2026-01-01") -> 10.0, ("BBB", "2026-01-01") -> 20.0,
      ("DDD", "2026-01-01") -> 40.0))
    assert(snap(2) == Map(("AAA", "2026-01-01") -> 11.0, ("AAA", "2026-01-02") -> 12.0,
      ("BBB", "2026-01-01") -> 20.0, ("DDD", "2026-01-01") -> 40.0),
      "v2: BBB/DDD still live originals, CCC absent")
    assert(snap(3) == Map(("AAA", "2026-01-01") -> 11.0, ("AAA", "2026-01-02") -> 12.0,
      ("BBB", "2026-01-01") -> 21.0, ("CCC", "2026-01-01") -> 30.0,
      ("DDD", "2026-01-01") -> 40.0))
    // history with no data copy: a version lists the very files of every
    // partition the commit did not touch, and new files only for the
    // touched ones
    def in(v: Long, sym: String) = listed(wh, t, v).filter(_.startsWith(s"symbol=$sym/"))
    assert(in(2, "BBB") == in(1, "BBB") && in(2, "DDD") == in(1, "DDD"))
    assert(in(2, "AAA").intersect(in(1, "AAA")).isEmpty)
    assert(in(3, "AAA") == in(2, "AAA") && in(3, "DDD") == in(1, "DDD"))
    assert(in(3, "BBB").intersect(in(2, "BBB")).isEmpty && in(3, "CCC").nonEmpty)
    // reading a version never blocks pruned-forward reads of live
    assert(catalog.read(t).count() == 5)
  }

  test("a crash mid-partitioned-commit rolls back bit-exactly; retry lands") {
    val wh = tmpDir("graft-pvcrash")
    val catalog = new Catalog(spark, wh)
    val t = Schemas.tables.bronze
    def up(rows: Row*): Unit =
      catalog.upsert(df(rows: _*), t, keys = Seq("symbol", "date"),
        partitionBy = Seq("symbol"))
    up(mkRow("AAA", "2026-01-01", 10.0, "2026-01-02 00:00:00"),
      mkRow("BBB", "2026-01-01", 20.0, "2026-01-02 00:00:00"))
    val v1 = listed(wh, t, 1)
    val before = stamps(wh, t, v1)
    // die in the worst window: the new AAA file and a brand-new CCC
    // partition renamed in, no manifest written
    catalog.crashHook = { case "moved" => throw new RuntimeException("simulated crash")
                          case _ => }
    intercept[RuntimeException] {
      up(mkRow("AAA", "2026-01-01", 11.0, "2026-01-03 00:00:00"),
        mkRow("CCC", "2026-01-01", 30.0, "2026-01-03 00:00:00"))
    }
    catalog.crashHook = _ => ()
    // the table is bit-exactly at v1: a read scans v1's files (same names,
    // sizes AND mtimes) and nothing the dead writer left, version unmoved
    assert(catalog.version(t) == 1)
    assert(unlisted(wh, t).exists(_.startsWith("symbol=CCC/")))
    assert(scanned(catalog.read(t), t) == v1)
    assert(stamps(wh, t, v1) == before)
    // retry applies normally and the pre-image is versioned
    up(mkRow("AAA", "2026-01-01", 11.0, "2026-01-03 00:00:00"),
      mkRow("CCC", "2026-01-01", 30.0, "2026-01-03 00:00:00"))
    assert(catalog.version(t) == 2)
    assert(catalog.readAsOf(t, 1).count() == 2)
    assert(catalog.read(t).count() == 3)
    val rows1 = catalog.readAsOf(t, 1).collect()
      .map(r => r.getAs[String]("symbol") -> r.getAs[Double]("close")).toMap
    assert(rows1 == Map("AAA" -> 10.0, "BBB" -> 20.0))
    assert(unlisted(wh, t).isEmpty && stages(wh, t).isEmpty)
  }

  test("partitioned compaction is a versioned commit: history survives the rewrite") {
    // mixing upserts and compaction must keep ONE version scheme: a
    // compaction is a commit like any other, numbered in the same log
    val wh = tmpDir("graft-pvcompact")
    val catalog = new Catalog(spark, wh)
    val t = Schemas.tables.bronze
    def up(rows: Row*): Unit =
      catalog.upsert(df(rows: _*), t, keys = Seq("symbol", "date"),
        partitionBy = Seq("symbol"))
    up(mkRow("AAA", "2026-01-01", 10.0, "2026-01-02 00:00:00"),
      mkRow("BBB", "2026-01-01", 20.0, "2026-01-02 00:00:00"))
    up(mkRow("AAA", "2026-01-01", 11.0, "2026-01-03 00:00:00"))
    catalog.compact(t, partitionBy = Seq("symbol"))
    assert(catalog.version(t) == 3, "compaction must commit a version")
    def snap(v: Long): Map[String, Double] =
      catalog.readAsOf(t, v).collect()
        .map(r => r.getAs[String]("symbol") -> r.getAs[Double]("close")).toMap
    assert(snap(1) == Map("AAA" -> 10.0, "BBB" -> 20.0))
    assert(snap(2) == Map("AAA" -> 11.0, "BBB" -> 20.0))
    assert(snap(3) == Map("AAA" -> 11.0, "BBB" -> 20.0),
      "compaction preserves rows — v3 == v2 content in fewer files")
    assert(listed(wh, t, 3).size == 2, "one compacted file per partition")
    // a further upsert versions on top of the compacted image
    up(mkRow("BBB", "2026-01-01", 21.0, "2026-01-04 00:00:00"))
    assert(catalog.version(t) == 4)
    assert(snap(3) == Map("AAA" -> 11.0, "BBB" -> 20.0))
    assert(snap(4) == Map("AAA" -> 11.0, "BBB" -> 21.0))
  }

  test("a crash mid-overwrite leaves the previous image readable; retry lands") {
    val wh = tmpDir("graft-owcrash")
    val catalog = new Catalog(spark, wh)
    val t = Schemas.tables.silver
    def ow(rows: Row*): Unit = catalog.overwrite(df(rows: _*), t, Seq("symbol"))
    def snap(d: org.apache.spark.sql.DataFrame): Map[String, Double] =
      d.collect().map(r => r.getAs[String]("symbol") -> r.getAs[Double]("close")).toMap
    ow(mkRow("AAA", "2026-01-01", 10.0, "2026-01-02 00:00:00"),
      mkRow("BBB", "2026-01-01", 20.0, "2026-01-02 00:00:00"))
    // the new image replaces AAA, drops BBB and adds CCC; die with its
    // files renamed in and no manifest written
    catalog.crashHook = { case "moved" => throw new RuntimeException("simulated crash")
                          case _ => }
    intercept[RuntimeException] {
      ow(mkRow("AAA", "2026-01-01", 11.0, "2026-01-03 00:00:00"),
        mkRow("CCC", "2026-01-01", 30.0, "2026-01-03 00:00:00"))
    }
    catalog.crashHook = _ => ()
    assert(snap(catalog.read(t)) == Map("AAA" -> 10.0, "BBB" -> 20.0))
    assert(catalog.version(t) == 1)
    assert(scanned(catalog.read(t), t) == listed(wh, t, 1))
    // retry lands as a versioned commit: the old image stays readable
    ow(mkRow("AAA", "2026-01-01", 11.0, "2026-01-03 00:00:00"),
      mkRow("CCC", "2026-01-01", 30.0, "2026-01-03 00:00:00"))
    assert(catalog.version(t) == 2)
    assert(snap(catalog.read(t)) == Map("AAA" -> 11.0, "CCC" -> 30.0))
    // BBB's files leave the current version but stay for version 1
    assert(!listed(wh, t, 2).exists(_.startsWith("symbol=BBB/")))
    assert(listed(wh, t, 1).exists(_.startsWith("symbol=BBB/")))
    assert(snap(catalog.readAsOf(t, 1)) == Map("AAA" -> 10.0, "BBB" -> 20.0))
    assert(unlisted(wh, t).isEmpty && stages(wh, t).isEmpty)
  }

  test("an empty overwrite reads back empty under the declared schema, at every version") {
    val wh = tmpDir("graft-owempty")
    val catalog = new Catalog(spark, wh)
    val t = Schemas.tables.silverRejected
    def rejected(rows: Row*) =
      df(rows: _*).withColumn("reject_reason", lit("ohlc_inconsistent"))
    val declared = Schemas.silverRejected.map(f => f.name -> f.dataType)
    def check(d: org.apache.spark.sql.DataFrame, n: Long): Unit = {
      assert(d.schema.map(f => f.name -> f.dataType) == declared)
      assert(d.count() == n)
    }
    catalog.overwrite(rejected(), t, Seq("symbol"))  // creates an empty table
    check(catalog.read(t), 0)
    catalog.overwrite(rejected(mkRow("AAA", "2026-01-01", 10.0, "2026-01-02 00:00:00")),
      t, Seq("symbol"))
    catalog.overwrite(rejected(), t, Seq("symbol"))  // a run with no rejects
    assert(catalog.version(t) == 3)
    check(catalog.read(t), 0)
    check(catalog.readAsOf(t, 1), 0)
    check(catalog.readAsOf(t, 2), 1)
    check(catalog.readAsOf(t, 3), 0)
  }

  test("append is a versioned commit: each version replays the appends before it") {
    import spark.implicits._
    val wh = tmpDir("graft-append")
    val catalog = new Catalog(spark, wh)
    def ids(d: org.apache.spark.sql.DataFrame): Set[Int] = d.as[Int].collect().toSet
    catalog.overwrite(Seq(1).toDF("id"), "t", Nil)
    catalog.overwrite(Seq(2).toDF("id"), "t", Nil)
    catalog.append(Seq(3).toDF("id"), "t", Nil)
    assert(catalog.version("t") == 3)
    assert(ids(catalog.readAsOf("t", 1)) == Set(1))
    assert(ids(catalog.readAsOf("t", 2)) == Set(2))
    assert(ids(catalog.read("t")) == Set(2, 3))
  }

  test("two writers on one table: one lands, the other raises and leaves nothing behind") {
    val wh = tmpDir("graft-2writers")
    val a = new Catalog(spark, wh)
    val b = new Catalog(spark, wh)
    val t = Schemas.tables.bronze
    def up(c: Catalog, rows: Row*): Unit =
      c.upsert(df(rows: _*), t, keys = Seq("symbol", "date"), partitionBy = Seq("symbol"))
    up(a, mkRow("AAA", "2026-01-01", 10.0, "2026-01-02 00:00:00"),
      mkRow("BBB", "2026-01-01", 20.0, "2026-01-02 00:00:00"))
    // A has merged against version 1 and written its files; B's whole
    // upsert runs, on another thread, before A takes the commit lock
    val bDone = scala.concurrent.Promise[Unit]()
    a.crashHook = {
      case "staged" =>
        val th = new Thread(() => bDone.complete(scala.util.Try(
          up(b, mkRow("AAA", "2026-01-01", 12.0, "2026-01-03 00:00:00"),
            mkRow("CCC", "2026-01-01", 30.0, "2026-01-03 00:00:00")))))
        th.start()
        th.join(120000)
      case _ =>
    }
    intercept[java.util.ConcurrentModificationException] {
      up(a, mkRow("AAA", "2026-01-01", 11.0, "2026-01-03 00:00:00"),
        mkRow("BBB", "2026-01-01", 21.0, "2026-01-03 00:00:00"))
    }
    a.crashHook = _ => ()
    assert(bDone.future.value.exists(_.isSuccess), s"B did not land: ${bDone.future.value}")
    assert(a.version(t) == 2)
    val rows = a.read(t).collect()
      .map(r => r.getAs[String]("symbol") -> r.getAs[Double]("close")).toMap
    assert(rows == Map("AAA" -> 12.0, "BBB" -> 20.0, "CCC" -> 30.0), "the table is B's merge")
    assert(unlisted(wh, t).isEmpty && stages(wh, t).isEmpty)
  }
}
