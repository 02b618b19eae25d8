package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame

/** The catalog's version log as a whole: a batch that dies before its
  * manifest is linked (the pointer flip) publishes nothing, time travel
  * reads every retained version while untouched tables keep theirs, and
  * pruning reclaims exactly the files no retained version lists. */
class VersionedCatalogSpec extends SparkTestBase {
  import CatalogLayout._

  private def ids(d: DataFrame): Set[(String, Int)] = {
    import spark.implicits._
    d.select("part", "id").as[(String, Int)].collect().toSet
  }

  test("a crash before the pointer flip publishes NOTHING of the batch") {
    import spark.implicits._
    val wh = tmpDir("vcat-crash")
    val catalog = new Catalog(spark, wh)
    val t = "gold"
    catalog.overwrite(Seq(("a", 1), ("b", 2)).toDF("part", "id"), t, Seq("part"))
    val v1 = ids(catalog.read(t))
    // an append spanning an existing and a new partition, killed at each
    // step before the manifest link: files written, then files in place
    val batch = Seq(("a", 3), ("c", 4)).toDF("part", "id")
    for (at <- Seq("staged", "moved")) {
      catalog.crashHook = h => if (h == at) throw new RuntimeException(s"die at $at")
      intercept[RuntimeException](catalog.append(batch, t, Seq("part")))
      catalog.crashHook = _ => ()
      // readers see version 1 whole in every partition — none of the batch
      assert(catalog.version(t) == 1, s"version moved across a crash at $at")
      assert(ids(catalog.read(t)) == v1, s"a crash at $at published part of the batch")
      assert(scanned(catalog.read(t), t) == listed(wh, t, 1))
    }
    assert(unlisted(wh, t).exists(_.startsWith("part=c/")))

    // the retry lands the whole batch as one version
    catalog.append(batch, t, Seq("part"))
    assert(catalog.version(t) == 2)
    assert(ids(catalog.read(t)) == v1 ++ Set(("a", 3), ("c", 4)))
    assert(ids(catalog.readAsOf(t, 1)) == v1)
    assert(unlisted(wh, t).isEmpty && stages(wh, t).isEmpty)
  }

  test("time travel reads any retained commit; untouched tables carry forward") {
    import spark.implicits._
    val wh = tmpDir("vcat-tt")
    val catalog = new Catalog(spark, wh)
    catalog.overwrite(Seq(("x", 1)).toDF("part", "id"), "gold", Nil)
    catalog.overwrite(Seq(("x", 1)).toDF("part", "id"), "dq", Nil)
    val dqFiles = stamps(wh, "dq", listed(wh, "dq", 1))
    catalog.overwrite(Seq(("x", 1), ("x", 2)).toDF("part", "id"), "gold", Nil)
    catalog.append(Seq(("x", 3)).toDF("part", "id"), "gold", Nil)
    // every gold version replays its own commit
    assert(ids(catalog.readAsOf("gold", 1)) == Set(("x", 1)))
    assert(ids(catalog.readAsOf("gold", 2)) == Set(("x", 1), ("x", 2)))
    assert(ids(catalog.readAsOf("gold", 3)) == Set(("x", 1), ("x", 2), ("x", 3)))
    // dq, untouched by gold's commits, stays at its version on its files
    assert(catalog.version("dq") == 1)
    assert(ids(catalog.read("dq")) == Set(("x", 1)))
    assert(stamps(wh, "dq", dqFiles.keySet) == dqFiles)
    assert(scanned(catalog.read("dq"), "dq") == dqFiles.keySet)
  }

  test("vacuum reclaims unreachable versions but keeps retained commits readable") {
    import spark.implicits._
    val wh = tmpDir("vcat-vac")
    val catalog = new Catalog(spark, wh, retainVersions = 1)
    val t = "gold"
    def up(rows: (String, Int)*): Unit =
      catalog.upsert(rows.toDF("part", "id"), t, keys = Seq("part"), partitionBy = Seq("part"))
    up(("a", 1), ("b", 1))                // v1
    val bFiles = listed(wh, t, 1).filter(_.startsWith("part=b/"))
    (2 to 4).foreach(i => up(("a", i)))   // v2..v4 touch only a
    // pruning on commit kept the current version and the one before it
    assert(versions(wh, t) == Seq(3L, 4L))
    assert(onDisk(wh, t) == listed(wh, t, 3) ++ listed(wh, t, 4))
    // b's files, written at version 1, are still listed and still there
    assert(bFiles.nonEmpty && bFiles.subsetOf(onDisk(wh, t)))
    assert(ids(catalog.readAsOf(t, 3)) == Set(("a", 3), ("b", 1)))
    assert(ids(catalog.read(t)) == Set(("a", 4), ("b", 1)))
    intercept[IllegalArgumentException](catalog.readAsOf(t, 2))
  }
}
