package graft.pipeline

import java.sql.{Date, Timestamp}
import graft.SparkTestBase
import org.apache.spark.sql.Row

/** Model-based churn for the catalog's one commit protocol (q365's
  * commit-by-rename): a seeded sequence of random writes — partitioned
  * upserts, unpartitioned upserts, or partitioned overwrites — a third
  * of them killed at the WORST crash window (pre-images archived,
  * nothing promoted), is replayed against a plain-Scala model of the
  * MERGE / overwrite semantics. Invariants after every step:
  *
  *   - a crashed write leaves the table bit-readable at its prior
  *     version (version number unmoved, live rows == model) and the
  *     retry lands as if the crash never happened;
  *   - the live directory holds exactly the current version's data
  *     files: no staging, no half-archive, no orphan a read would skip;
  *   - every version inside the retention horizon replays EXACTLY
  *     (readAsOf == the model's snapshot at that version, read from the
  *     very files that version had live);
  *   - a version beyond retention fails loudly, never silently wrong.
  *
  * The q365 gate proves one two-version derivation against DuckDB; this
  * spec walks the protocol through a dozen commits with interleaved
  * failures — the shapes a single derivation can't reach (repeated
  * crash-retry cycles, archive pruning under churn, partitions created
  * mid-history then updated or dropped, multi-partition batches). */
class PartitionedCatalogChurnSpec extends SparkTestBase {

  private def df(rows: Seq[Row]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      org.apache.spark.sql.types.StructType(
        Schemas.bronze.map(_.copy(nullable = true))))
      .select("symbol", "date", "open", "high", "low", "close", "volume",
        "source", "ingested_at", "input_file")

  private def mkRow(symbol: String, date: String, close: Double): Row =
    Row(symbol, Date.valueOf(date), close, close + 1, close - 1, close, 100L,
      "churn", Timestamp.valueOf("2026-01-01 00:00:00"), "f.csv")

  /** Walks every regular file under `root` that Spark would read (no
    * `_`/`.`-prefixed name on the way), as paths relative to `root`. */
  private def dataFiles(root: java.io.File): Set[String] = {
    def walk(f: java.io.File, rel: String): Seq[String] =
      if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq
        .flatMap(c => walk(c, s"$rel/${c.getName}"))
      else Seq(rel)
    Option(root.listFiles()).getOrElse(Array.empty).toSeq.flatMap(c => walk(c, c.getName)).toSet
  }

  /** The table's files as Spark reads them, relative to the table root or
    * archive they sit in: archived files keep their relative path, so the
    * set names one image whether it is read live or by version. */
  private def readFiles(df: org.apache.spark.sql.DataFrame, t: String): Set[String] = {
    val root = ("^.*/" + java.util.regex.Pattern.quote(t) + "(\\.pv\\d+)?/").r
    df.inputFiles.map(f => root.replaceFirstIn(new java.net.URI(f).getPath, "")).toSet
  }

  /** One seeded churn of 12 writes on a fresh table — a third of them
    * killed at the commit's worst window — checked against the model.
    * `partitioned`: symbol partitions, else one flat directory of files;
    * `overwrite`: each write replaces the table with the batch, else it
    * MERGEs the batch in. */
  private def churn(partitioned: Boolean, overwrite: Boolean): Unit = {
    val wh = tmpDir("graft-pchurn")
    val catalog = new Catalog(spark, wh)
    val t = Schemas.tables.bronze
    val live = new java.io.File(s"$wh/$t")
    val partitionBy = if (partitioned) Seq("symbol") else Nil
    val rng = new scala.util.Random(0xC4A5E14L)
    val symbols = Vector("AAA", "BBB", "CCC", "DDD", "EEE")
    val dates = Vector("2026-01-01", "2026-01-02")

    // the model: committed snapshots and their live data files, version v
    // at index v-1
    var state = Map.empty[(String, String), Double]
    var nCrashes = 0
    val snapshots = scala.collection.mutable.ArrayBuffer.empty[Map[(String, String), Double]]
    val images = scala.collection.mutable.ArrayBuffer.empty[Set[String]]

    def rowsOf(df: org.apache.spark.sql.DataFrame): Map[(String, String), Double] =
      df.collect().map { r =>
        (r.getAs[String]("symbol"), r.getAs[Date]("date").toString) ->
          r.getAs[Double]("close")
      }.toMap
    def write(rows: Seq[Row]): Unit =
      if (overwrite) catalog.overwrite(df(rows), t, partitionBy)
      else catalog.upsert(df(rows), t, keys = Seq("symbol", "date"), partitionBy)
    // the live directory holds exactly the version's data files: nothing
    // staged, no half-archive, no orphan beside what a read scans
    def assertLiveIsImage(step: Int, image: Set[String]): Unit = {
      val table = catalog.read(t)
      assert(dataFiles(live) == image, s"step $step: live files != version image")
      assert(readFiles(table, t) == image, s"step $step: orphan data files in live dir")
      assert(!new java.io.File(s"$wh/$t.staging").exists(), s"step $step: staging left")
      val archives = Option(new java.io.File(wh).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(s"$t.pv"))
      assert(archives.forall(a => new java.io.File(a, "_committed").exists()),
        s"step $step: an uncommitted archive survived")
    }

    (1 to 12).foreach { step =>
      val batch = (0 until 1 + rng.nextInt(3)).flatMap { _ =>
        val s = symbols(rng.nextInt(symbols.size))
        (0 until 1 + rng.nextInt(2)).map { _ =>
          (s, dates(rng.nextInt(dates.size)), (step * 100 + rng.nextInt(100)).toDouble)
        }
      }.distinct
      // dedup batch keys (incoming must have unique (symbol, date))
      val keyed = batch.groupBy(b => (b._1, b._2)).map(_._2.head).toSeq
      val rows = keyed.map { case (s, d, c) => mkRow(s, d, c) }

      val crash = snapshots.nonEmpty && rng.nextInt(3) == 0
      if (crash) {
        nCrashes += 1
        catalog.crashHook = () => throw new RuntimeException("injected crash")
        intercept[RuntimeException](write(rows))
        catalog.crashHook = () => ()
        // table must be bit-readable at the PRIOR committed state
        assert(catalog.version(t) == snapshots.size.toLong,
          s"step $step: version moved across a crash")
        assert(rowsOf(catalog.read(t)) == state, s"step $step: live rows corrupted by crash")
        assertLiveIsImage(step, images.last)
      }
      // the (possibly retried) write lands
      write(rows)
      val written = keyed.map { case (s, d, c) => (s, d) -> c }.toMap
      state = if (overwrite) written else state ++ written
      snapshots += state
      images += dataFiles(live)
      assert(catalog.version(t) == snapshots.size.toLong,
        s"step $step: version != commit count")
      assert(rowsOf(catalog.read(t)) == state, s"step $step: live read != model")
      assertLiveIsImage(step, images.last)
    }

    // every version in the retention horizon replays exactly, from the
    // very files it had live; beyond it the read fails loudly
    // (retainVersions = 3 archives -> 4 readable)
    val cur = snapshots.size.toLong
    val oldestReadable = math.max(1L, cur - 3)
    (oldestReadable to cur).foreach { v =>
      val asOf = catalog.readAsOf(t, v)
      assert(rowsOf(asOf) == snapshots((v - 1).toInt), s"version $v replay != model snapshot")
      assert(readFiles(asOf, t) == images((v - 1).toInt), s"version $v read other files")
    }
    assertThrows[IllegalArgumentException] {
      catalog.readAsOf(t, oldestReadable - 1).collect()
    }
    // a churn run that never crashed would be a fixture, not a fuzz
    assert(nCrashes >= 2, s"seed produced only $nCrashes crash injections")
  }

  test("12 random upserts with injected crashes: every retained version replays") {
    churn(partitioned = true, overwrite = false)
  }

  test("12 random UNPARTITIONED upserts with injected crashes: every retained version replays") {
    churn(partitioned = false, overwrite = false)
  }

  test("12 random partitioned OVERWRITES with injected crashes: every retained version replays") {
    churn(partitioned = true, overwrite = true)
  }
}
