package graft.pipeline

import graft.SparkTestBase

/** [[TableDiff]] classification on hand-built snapshots (including the
  * `removed` path the append-only q96 gate can never produce) and the
  * CDC integration: diffing two real [[Catalog]] versions via time
  * travel. */
class TableDiffSpec extends SparkTestBase {
  import spark.implicits._

  test("diff classifies added/removed/changed and drops unchanged rows") {
    val old = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "v", "x")
    val nw  = Seq((2L, "b", 20), (3L, "C", 30), (4L, "d", 40)).toDF("id", "v", "x")
    val got = TableDiff.diff(old, nw, Seq("id"), Seq("v", "x"))
      .select("id", "change_type").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
  }

  test("changed compares only the named compare columns, null-safely") {
    val old = Seq((1L, Option("a"), 1), (2L, None: Option[String], 2)).toDF("id", "v", "noise")
    val nw  = Seq((1L, Option("a"), 9), (2L, None: Option[String], 8)).toDF("id", "v", "noise")
    // noise excluded from compareCols → both rows unchanged → empty diff
    assert(TableDiff.diff(old, nw, Seq("id"), Seq("v")).isEmpty)
    // nulls compare equal to nulls, not to values
    val nw2 = Seq((1L, Option("a"), 0), (2L, Option("z"), 0)).toDF("id", "v", "noise")
    val got = TableDiff.diff(old, nw2, Seq("id"), Seq("v"))
      .select("id", "change_type").as[(Long, String)].collect().toMap
    assert(got === Map(2L -> "changed"))
  }

  test("diff of two Catalog versions is the change feed between them") {
    val cat = new Catalog(spark, tmpDir("cat-diff"))
    cat.overwrite(Seq((1L, "gold"), (2L, "silver"), (3L, "bronze")).toDF("id", "tier"),
      "dim", Nil)
    cat.overwrite(Seq((1L, "gold"), (2L, "platinum"), (4L, "silver")).toDF("id", "tier"),
      "dim", Nil)
    val feed = TableDiff.diff(
        cat.readAsOf("dim", 1), cat.readAsOf("dim", 2),
        Seq("id"), Seq("tier"))
      .select("id", "change_type", "old_tier", "new_tier")
      .as[(Long, String, Option[String], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(feed === Map(
      2L -> (("changed", Some("silver"), Some("platinum"))),
      3L -> (("removed", Some("bronze"), None)),
      4L -> (("added", None, Some("silver")))))
  }
}
