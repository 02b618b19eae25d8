package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Commit-churn rehearsal for the versioned catalog (the round-8
  * durability companion to SCALE.md's partition-count ceiling): a
  * long-lived writer publishes many commits against the same tables
  * with periodic vacuum — the shape a daily medallion refresh traces
  * over months. Pins that
  * (a) publish cost does not grow with commit history (each publish
  * reads ONE manifest — the chain is never replayed), (b) vacuum keeps
  * disk bounded while retained commits stay readable, and (c) the final
  * state is exactly the last publish's data.
  */
class VersionedCatalogChurnSpec extends SparkTestBase {

  test("60-commit churn: flat publish cost, bounded disk, correct final state") {
    import spark.implicits._
    val wh = tmpDir("graft-churn")
    val cat = new VersionedCatalog(spark, wh)
    val times = Array.ofDim[Double](60)
    for (i <- 0 until 60) {
      val df = Seq.tabulate(50)(j => (j.toLong, i.toLong)).toDF("k", "commit_no")
      val t0 = System.nanoTime()
      cat.publish(Map("churn_t" -> df,
        "churn_side" -> Seq((i.toLong, s"v$i")).toDF("id", "tag")))
      times(i) = (System.nanoTime() - t0) / 1e9
      if (i % 10 == 9) cat.vacuum(keep = 3)
    }
    // (a) flat-ish: the last 10 publishes must not cost materially more
    // than the first 10 (generous 5x guard — the claim is O(1) manifest
    // reads per publish, not wall-clock stability of a noisy box)
    val first = times.take(10).sum / 10
    val last = times.takeRight(10).sum / 10
    info(f"publish mean: first10 $first%.3f s, last10 $last%.3f s")
    assert(last <= first * 5,
      f"publish cost grew with commit history: $first%.3f -> $last%.3f s")
    // (b) disk bounded: vacuum(keep=3) ran at commit 59; at most the
    // retained tail of version dirs survives per table (+ the in-flight
    // margin since the final 10 commits came after the last vacuum)
    def versionDirs(t: String): Int = new java.io.File(s"$wh/$t").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("v"))
    assert(versionDirs("churn_t") <= 13,
      s"vacuum left ${versionDirs("churn_t")} versions")
    // (c) correctness: latest read is the last publish, exactly
    val got = cat.read("churn_t").agg(count(lit(1)), max($"commit_no")).collect().head
    assert((got.getLong(0), got.getLong(1)) == (50L, 59L), got.toString)
    assert(cat.read("churn_side").collect().head.getString(1) == "v59")
    // retained time travel still works after all the churn
    val c = cat.currentCommit()
    val prev = cat.read("churn_t", asOfCommit = c - 1)
      .agg(max($"commit_no")).collect().head.getLong(0)
    assert(prev == 58L, s"time travel read $prev")
  }
}
