package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Commit-churn rehearsal for the catalog's version log (the durability
  * companion to SCALE.md's partition-count ceiling): a long-lived writer
  * commits many versions of one table, the shape a daily medallion
  * refresh traces over months. Pins that
  * (a) commit cost does not grow with history (each commit reads the base
  * manifest and the retained window, never the whole log), (b) pruning on
  * commit keeps the log and the data files bounded while the retained
  * versions stay readable, and (c) the final state is exactly the last
  * commit's data.
  */
class VersionedCatalogChurnSpec extends SparkTestBase {
  import CatalogLayout._

  test("60-commit churn: flat publish cost, bounded disk, correct final state") {
    import spark.implicits._
    val wh = tmpDir("graft-churn")
    val catalog = new Catalog(spark, wh)
    val times = Array.ofDim[Double](60)
    for (i <- 0 until 60) {
      val df = Seq.tabulate(50)(j => (j.toLong, i.toLong)).toDF("k", "commit_no")
      val t0 = System.nanoTime()
      catalog.overwrite(df, "churn_t", Nil)
      times(i) = (System.nanoTime() - t0) / 1e9
    }
    // (a) flat-ish: the last 10 commits must not cost materially more than
    // the first 10 (generous 5x guard — the claim is a bounded number of
    // manifest reads per commit, not wall-clock stability of a noisy box)
    val first = times.take(10).sum / 10
    val last = times.takeRight(10).sum / 10
    info(f"commit mean: first10 $first%.3f s, last10 $last%.3f s")
    assert(last <= first * 5,
      f"commit cost grew with history: $first%.3f -> $last%.3f s")
    // (b) disk bounded: the current version and the 3 retained before it,
    // and exactly their files
    assert(versions(wh, "churn_t") == (57L to 60L))
    assert(onDisk(wh, "churn_t") == (57L to 60L).flatMap(listed(wh, "churn_t", _)).toSet)
    // (c) correctness: the latest read is the last commit, exactly
    val got = catalog.read("churn_t").agg(count(lit(1)), max($"commit_no")).collect().head
    assert((got.getLong(0), got.getLong(1)) == (50L, 59L), got.toString)
    // retained time travel still works after all the churn
    val prev = catalog.readAsOf("churn_t", 59).agg(max($"commit_no")).collect().head.getLong(0)
    assert(prev == 58L, s"time travel read $prev")
    intercept[IllegalArgumentException](catalog.readAsOf("churn_t", 56))
  }
}
