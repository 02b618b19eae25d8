package graft.pipeline

import java.sql.{Date, Timestamp}
import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Dynamic-partition upsert: only touched partitions rewrite; untouched
  * partition files stay byte-identical on disk (the 100 TB MERGE story —
  * a daily batch must not rewrite the table image). */
class CatalogUpsertSpec extends SparkTestBase {

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

    // die at the worst point: every live file archived, staging not yet
    // promoted — the exact window where delete-then-rename lost the table
    catalog.crashHook = () => throw new RuntimeException("simulated crash")
    val crashed = intercept[RuntimeException] {
      catalog.upsert(df(mkRow("AAA", "2026-01-01", 99.0, "2026-01-03 00:00:00")),
        t, keys = Seq("symbol", "date"), partitionBy = Seq.empty)
    }
    assert(crashed.getMessage == "simulated crash")

    // next reader rolls the half-commit back: the ORIGINAL table is
    // whole, at exactly its prior version
    val healed = catalog.read(t)
    assert(healed.count() == 2)
    assert(healed.filter(col("symbol") === "AAA").head.getAs[Double]("close") == 10.0)
    assert(catalog.version(t) == 1)
    assert(!new java.io.File(s"$wh/$t.pv1").exists())

    // retry after recovery applies the update normally
    catalog.crashHook = () => ()
    catalog.upsert(df(mkRow("AAA", "2026-01-01", 99.0, "2026-01-03 00:00:00")),
      t, keys = Seq("symbol", "date"), partitionBy = Seq.empty)
    val out = catalog.read(t)
    assert(out.count() == 2)
    assert(out.filter(col("symbol") === "AAA").head.getAs[Double]("close") == 99.0)
    assert(catalog.version(t) == 2)
    assert(catalog.readAsOf(t, 1).filter(col("symbol") === "AAA")
      .head.getAs[Double]("close") == 10.0)
  }

  test("versioned reads: a reader pinned to version k is byte-stable across upserts") {
    val wh = tmpDir("graft-vread")
    val catalog = new Catalog(spark, wh)
    val t = Schemas.tables.bronze
    def upsert(close: Double, day: String): Unit =
      catalog.upsert(df(mkRow("AAA", day, close, "2026-01-02 00:00:00")),
        t, keys = Seq("symbol", "date"), partitionBy = Seq.empty)

    upsert(10.0, "2026-01-01")          // live = v1 (no archives yet)
    assert(catalog.version(t) == 1)
    upsert(20.0, "2026-01-01")          // archives v1, live = v2
    assert(catalog.version(t) == 2)

    // pin version 1 and fingerprint its files on disk
    def snapFiles(): Map[String, (Long, Long)] = {
      val d = new java.io.File(s"$wh/$t.pv1")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    }
    val filesBefore = snapFiles()
    val pinnedBefore = catalog.readAsOf(t, 1)
      .select(col("symbol"), col("date"), col("close")).collect().toSeq

    // two more concurrent-writer commits move the live table twice
    upsert(30.0, "2026-01-01")          // archives v2, live = v3
    upsert(40.0, "2026-01-02")          // archives v3, live = v4
    assert(catalog.version(t) == 4)

    // version 1 is byte-identical on disk and value-identical on read
    assert(snapFiles() == filesBefore, "pinned snapshot files moved or rewrote")
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

  test("heal restores from the HIGHEST archive when a swap dies with older archives present") {
    // the recovery case versioning introduced: with older committed
    // archives present, heal must roll back only the interrupted commit's
    // half-archive and leave every retained version readable
    val wh = tmpDir("graft-vheal")
    val catalog = new Catalog(spark, wh)
    val t = Schemas.tables.bronze
    def upsert(close: Double): Unit =
      catalog.upsert(df(mkRow("AAA", "2026-01-01", close, "2026-01-02 00:00:00")),
        t, keys = Seq("symbol", "date"), partitionBy = Seq.empty)
    upsert(1.0)                          // live v1
    upsert(2.0)                          // archives v1, live v2
    catalog.crashHook = () => throw new RuntimeException("simulated crash")
    intercept[RuntimeException] { upsert(3.0) } // dies with v2 archived
    catalog.crashHook = () => ()
    // heal: uncommitted pv2 -> v2 restored live, committed pv1 untouched
    assert(catalog.read(t).head.getAs[Double]("close") == 2.0)
    assert(catalog.version(t) == 2)
    assert(!new java.io.File(s"$wh/$t.pv2").exists())
    assert(catalog.readAsOf(t, 1).head.getAs[Double]("close") == 1.0)
    // retry applies normally on the healed table
    upsert(3.0)
    assert(catalog.version(t) == 3)
    assert(catalog.readAsOf(t, 2).head.getAs[Double]("close") == 2.0)
    assert(catalog.read(t).head.getAs[Double]("close") == 3.0)
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
    // the archives hold exactly the touched partitions — history with no
    // data copy: pv1 archived v1-AAA (touched by v2), pv2 archived v2-BBB
    assert(new java.io.File(s"$wh/$t.pv1/symbol=AAA").exists())
    assert(!new java.io.File(s"$wh/$t.pv1/symbol=BBB").exists())
    assert(new java.io.File(s"$wh/$t.pv2/symbol=BBB").exists())
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
    def files(sym: String): Map[String, Long] = {
      val d = new java.io.File(s"$wh/$t/symbol=$sym")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before = (files("AAA"), files("BBB"))
    // die in the worst window: pre-images archived, nothing promoted,
    // a brand-new CCC partition staged
    catalog.crashHook = () => throw new RuntimeException("simulated crash")
    intercept[RuntimeException] {
      up(mkRow("AAA", "2026-01-01", 11.0, "2026-01-03 00:00:00"),
        mkRow("CCC", "2026-01-01", 30.0, "2026-01-03 00:00:00"))
    }
    catalog.crashHook = () => ()
    // heal: table is bit-exactly at v1 (same file names AND mtimes),
    // the half-archive and staging are gone, version unmoved
    assert(catalog.version(t) == 1)
    assert((files("AAA"), files("BBB")) == before)
    assert(!new java.io.File(s"$wh/$t/symbol=CCC").exists())
    assert(!new java.io.File(s"$wh/$t.pv1").exists())
    assert(!new java.io.File(s"$wh/$t.staging").exists())
    // retry applies normally and the pre-image is versioned
    up(mkRow("AAA", "2026-01-01", 11.0, "2026-01-03 00:00:00"),
      mkRow("CCC", "2026-01-01", 30.0, "2026-01-03 00:00:00"))
    assert(catalog.version(t) == 2)
    assert(catalog.readAsOf(t, 1).count() == 2)
    assert(catalog.read(t).count() == 3)
    val v1 = catalog.readAsOf(t, 1).collect()
      .map(r => r.getAs[String]("symbol") -> r.getAs[Double]("close")).toMap
    assert(v1 == Map("AAA" -> 10.0, "BBB" -> 20.0))
  }

  test("partitioned compaction is a versioned commit: history survives the rewrite") {
    // mixing upserts and compaction must keep ONE version scheme — the
    // old compact wrote a whole-table .v<N> archive the partitioned
    // readAsOf dispatcher never consults, silently breaking numbering
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
    // the new image replaces AAA, drops BBB and adds CCC; die with every
    // live partition archived and nothing promoted
    catalog.crashHook = () => throw new RuntimeException("simulated crash")
    intercept[RuntimeException] {
      ow(mkRow("AAA", "2026-01-01", 11.0, "2026-01-03 00:00:00"),
        mkRow("CCC", "2026-01-01", 30.0, "2026-01-03 00:00:00"))
    }
    catalog.crashHook = () => ()
    assert(snap(catalog.read(t)) == Map("AAA" -> 10.0, "BBB" -> 20.0))
    assert(catalog.version(t) == 1)
    assert(!new java.io.File(s"$wh/$t/symbol=CCC").exists())
    assert(!new java.io.File(s"$wh/$t.pv1").exists())
    assert(!new java.io.File(s"$wh/$t.staging").exists())
    // retry lands as a versioned commit: the old image stays readable
    ow(mkRow("AAA", "2026-01-01", 11.0, "2026-01-03 00:00:00"),
      mkRow("CCC", "2026-01-01", 30.0, "2026-01-03 00:00:00"))
    assert(catalog.version(t) == 2)
    assert(snap(catalog.read(t)) == Map("AAA" -> 11.0, "CCC" -> 30.0))
    assert(!new java.io.File(s"$wh/$t/symbol=BBB").exists())
    assert(snap(catalog.readAsOf(t, 1)) == Map("AAA" -> 10.0, "BBB" -> 20.0))
  }

  test("a reader on another Catalog waits out a commit in flight instead of rolling it back") {
    // Two Catalogs on one warehouse in one JVM; writers in other JVMs are
    // not coordinated. The reader starts inside the commit's worst window
    // (every pre-image archived, nothing promoted), where its heal would
    // take the writer for dead and undo the half-commit.
    val wh = tmpDir("graft-inflight")
    val writer = new Catalog(spark, wh)
    val reader = new Catalog(spark, wh)
    val t = Schemas.tables.silver
    writer.overwrite(df(mkRow("AAA", "2026-01-01", 10.0, "2026-01-02 00:00:00"),
      mkRow("BBB", "2026-01-01", 20.0, "2026-01-02 00:00:00")), t, Seq("symbol"))
    val read = scala.concurrent.Promise[Long]()
    var blocked = false
    var readerThread: Thread = null
    writer.crashHook = () => {
      readerThread = new Thread(() => read.complete(scala.util.Try(reader.read(t).count())))
      readerThread.start()
      readerThread.join(300)
      blocked = readerThread.isAlive
    }
    writer.overwrite(df(mkRow("AAA", "2026-01-01", 11.0, "2026-01-03 00:00:00"),
      mkRow("BBB", "2026-01-01", 21.0, "2026-01-03 00:00:00"),
      mkRow("CCC", "2026-01-01", 30.0, "2026-01-03 00:00:00")), t, Seq("symbol"))
    writer.crashHook = () => ()
    readerThread.join()
    assert(blocked, "the reader must wait while the commit holds the table")
    assert(writer.version(t) == 2)
    assert(read.future.value.get.get == 3L, "the reader sees the committed image")
    assert(reader.read(t).count() == 3L)
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
}
