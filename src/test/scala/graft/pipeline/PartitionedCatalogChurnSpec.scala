package graft.pipeline

import java.sql.{Date, Timestamp}
import graft.SparkTestBase
import org.apache.spark.sql.Row

/** Model-based churn for the catalog's one commit protocol (q365's
  * manifest commit): a seeded sequence of random writes — partitioned
  * upserts, unpartitioned upserts, or partitioned overwrites — a third
  * of them killed at a commit step (files staged; files in place with
  * no manifest, the worst window; manifest claimed with cleanup not
  * run; in turn), is replayed against a plain-Scala model of the
  * MERGE / overwrite semantics. Invariants after every step:
  *
  *   - a crashed write leaves the table at exactly its prior version N
  *     (before the claim) or the write's version N+1 (after it), bit-
  *     readable with live rows == model, and the retry lands as if the
  *     crash never happened;
  *   - a read scans exactly the current manifest's files, and after a
  *     commit no staged write and no file that no manifest lists is left;
  *   - a partitioned upsert's version lists the previous version's files
  *     of every partition it did not touch: shared, not copied;
  *   - every version inside the retention horizon replays EXACTLY
  *     (readAsOf == the model's snapshot at that version, read from the
  *     very files, same sizes and mtimes, that version had live);
  *   - a version beyond retention fails loudly, never silently wrong.
  *
  * The q365 gate proves one two-version derivation against DuckDB; this
  * spec walks the protocol through a dozen commits with interleaved
  * failures — the shapes a single derivation can't reach (repeated
  * crash-retry cycles, pruning under churn, partitions created
  * mid-history then updated or dropped, multi-partition batches). */
class PartitionedCatalogChurnSpec extends SparkTestBase {
  import CatalogLayout._

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

  /** The commit steps a crash is injected at, in turn. */
  private val steps = Seq("staged", "moved", "claimed")

  /** One seeded churn of 12 writes on a fresh table — a third of them
    * killed at a commit step — checked against the model.
    * `partitioned`: symbol partitions, else one flat directory of files;
    * `overwrite`: each write replaces the table with the batch, else it
    * MERGEs the batch in. */
  private def churn(partitioned: Boolean, overwrite: Boolean): Unit = {
    val wh = tmpDir("graft-pchurn")
    val catalog = new Catalog(spark, wh)
    val t = Schemas.tables.bronze
    val partitionBy = if (partitioned) Seq("symbol") else Nil
    val rng = new scala.util.Random(0xC4A5E14L)
    val symbols = Vector("AAA", "BBB", "CCC", "DDD", "EEE")
    val dates = Vector("2026-01-01", "2026-01-02")

    // the model: committed snapshots and their files with sizes and
    // mtimes, version v at index v-1
    var state = Map.empty[(String, String), Double]
    var nCrashes = 0
    val snapshots = scala.collection.mutable.ArrayBuffer.empty[Map[(String, String), Double]]
    val images = scala.collection.mutable.ArrayBuffer.empty[Map[String, (Long, Long)]]

    def rowsOf(df: org.apache.spark.sql.DataFrame): Map[(String, String), Double] =
      df.collect().map { r =>
        (r.getAs[String]("symbol"), r.getAs[Date]("date").toString) ->
          r.getAs[Double]("close")
      }.toMap
    def write(rows: Seq[Row]): Unit =
      if (overwrite) catalog.overwrite(df(rows), t, partitionBy)
      else catalog.upsert(df(rows), t, keys = Seq("symbol", "date"), partitionBy)
    // a read scans exactly the current manifest's files
    def assertReadIsImage(step: Int): Unit = {
      val v = catalog.version(t)
      assert(scanned(catalog.read(t), t) == listed(wh, t, v), s"step $step: read != manifest")
    }
    // a version landed: the model advances with it
    def landed(step: Int, written: Map[(String, String), Double]): Unit = {
      state = if (overwrite) written else state ++ written
      snapshots += state
      val v = snapshots.size.toLong
      assert(catalog.version(t) == v, s"step $step: version != commit count")
      if (partitioned && !overwrite && v > 1) {
        val touched = written.keySet.map(_._1)
        def untouched(k: Long) = listed(wh, t, k).filterNot(f =>
          touched.exists(s => f.startsWith(s"symbol=$s/")))
        assert(untouched(v) == untouched(v - 1),
          s"step $step: untouched partitions were not shared")
      }
      images += stamps(wh, t, listed(wh, t, v))
      assert(rowsOf(catalog.read(t)) == state, s"step $step: live read != model")
      assertReadIsImage(step)
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

      val written = keyed.map { case (s, d, c) => (s, d) -> c }.toMap

      val crash = snapshots.nonEmpty && rng.nextInt(3) == 0
      if (crash) {
        val at = steps(nCrashes % steps.size)
        nCrashes += 1
        catalog.crashHook = h => if (h == at) throw new RuntimeException("injected crash")
        intercept[RuntimeException](write(rows))
        catalog.crashHook = _ => ()
        if (at == "claimed") landed(step, written) // the claim is the commit
        else {
          // the table is bit-readable at the PRIOR committed version
          assert(catalog.version(t) == snapshots.size.toLong,
            s"step $step: version moved across a crash at $at")
          assert(rowsOf(catalog.read(t)) == state, s"step $step: live rows corrupted by crash")
          assertReadIsImage(step)
        }
      }
      // the (possibly retried) write lands, and no staged write or file
      // that no manifest lists survives it
      write(rows)
      landed(step, written)
      assert(unlisted(wh, t).isEmpty, s"step $step: unlisted files survived the commit")
      assert(stages(wh, t).isEmpty, s"step $step: a staged write survived the commit")
    }

    // every version in the retention horizon replays exactly, from the
    // very files it had live; beyond it the read fails loudly
    // (retainVersions = 3 -> the current version and the 3 before it)
    val cur = snapshots.size.toLong
    val oldestReadable = math.max(1L, cur - 3)
    assert(versions(wh, t) == (oldestReadable to cur))
    (oldestReadable to cur).foreach { v =>
      val asOf = catalog.readAsOf(t, v)
      val image = images((v - 1).toInt)
      assert(rowsOf(asOf) == snapshots((v - 1).toInt), s"version $v replay != model snapshot")
      assert(scanned(asOf, t) == image.keySet, s"version $v read other files")
      assert(stamps(wh, t, image.keySet) == image, s"version $v files were rewritten")
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
