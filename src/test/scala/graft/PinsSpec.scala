package graft

import graft.graph.Graph
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** [[Pins]]: a scope frees exactly the pins it created that nothing live
  * reads, hands its result's pins outward, and restores every conf it
  * overrode — on normal and exceptional exit. */
class PinsSpec extends SparkTestBase {
  import spark.implicits._

  private def rddOf(df: DataFrame): RDD[_] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }.head
  private def held(r: RDD[_]): Boolean = r.getStorageLevel != StorageLevel.NONE
  private def ids(n: Long): DataFrame = (1L to n).toDF("id")

  test("sweep frees a superseded round's blocks (r11 mitigation)") {
    var first: RDD[_] = null
    val out = Pins.scope(spark) { pins =>
      val round0 = pins(ids(100))
      first = rddOf(round0)
      assert(held(first), "an eager pin must persist its blocks")
      val round1 = pins(round0.select(($"id" + 1).as("id")))
      pins.sweep(round1)
      assert(!held(first), "sweep must unpersist the superseded round")
      round1
    }
    assert(out.agg(sum($"id")).head.getLong(0) === (2L to 101L).sum)
    rddOf(out).unpersist()
    // and the loops still answer correctly with sweeps in place: a
    // 4-node ring, every node reaches rank fixpoint symmetrically
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val ranks = Graph.pageRank(ring, iters = 8).as[(Long, Long)].collect().toMap
    assert(ranks.size == 4 && ranks.values.toSet.size == 1,
      s"symmetric ring must rank uniformly: $ranks")
  }

  test("a pin read by a derived projection survives sweep") {
    var base: RDD[_] = null
    val derived = Pins.scope(spark) { pins =>
      val b = pins(ids(100))
      base = rddOf(b)
      val other = rddOf(pins(ids(10)))
      val d = b.select(($"id" * 2).as("id2"))
      pins.sweep(d)
      assert(held(base), "a projection over the pin still reads it")
      assert(!held(other), "a pin no live frame reads is freed")
      d
    }
    assert(held(base), "the result's pin is left to the caller")
    assert(derived.agg(sum($"id2")).head.getLong(0) === 10100L)
    base.unpersist()
  }

  test("a lazy pin's unmaterialized input survives until the pin is materialized") {
    val out = Pins.scope(spark) { pins =>
      val in = pins(ids(100))
      val agg = pins(in.groupBy(($"id" % 10).as("k")).agg(count(lit(1)).as("n")),
        eager = false)
      pins.sweep(agg)
      assert(held(rddOf(in)), "an unmaterialized pin still reads its input")
      // the aggregate job over the lazy pin stores its blocks (the
      // convergence-count idiom of the round loops)
      assert(agg.agg(sum($"n")).head.getLong(0) === 100L)
      pins.sweep(agg)
      assert(!held(rddOf(in)), "a materialized pin no longer reads its input")
      agg
    }
    assert(out.count() === 10L)
    rddOf(out).unpersist()
  }

  test("a pin created by another thread during the scope survives its exit") {
    var mine: RDD[_] = null
    var foreign: RDD[_] = null
    Pins.scope(spark) { pins =>
      mine = rddOf(pins(ids(20)))
      val t = new Thread(() => {
        // its own scope: ownership is per thread, never inherited
        foreign = rddOf(Pins.scope(spark)(p => p(ids(30))))
      })
      t.start()
      t.join()
      spark.range(1).toDF()
    }
    assert(!held(mine), "the scope frees its own pins")
    assert(held(foreign), "another thread's pin is not the scope's to free")
    foreign.unpersist()
  }

  test("an exception in the body frees the scope's pins and restores every conf") {
    val width = "spark.sql.shuffle.partitions"
    val aqe = "spark.sql.adaptive.enabled"
    val fresh = "spark.graft.pins.spec.probe"
    val (width0, aqe0) = (spark.conf.get(width), spark.conf.get(aqe))
    var pinned: RDD[_] = null
    val ex = intercept[IllegalStateException] {
      Pins.scope(spark) { pins =>
        pinned = rddOf(pins(ids(10)))
        pins.set(width -> "3", aqe -> "false", fresh -> "x")
        assert(spark.conf.get(width) === "3")
        assert(pins.shrinkShuffle(1L) === 3, "the width is capped at the current value")
        throw new IllegalStateException("boom")
      }
    }
    assert(ex.getMessage === "boom")
    assert(!held(pinned))
    assert(spark.conf.get(width) === width0)
    assert(spark.conf.get(aqe) === aqe0)
    assert(spark.conf.getOption(fresh).isEmpty)
  }

  test("a nested scope's surviving pins are freed by the outer scope") {
    var dead: RDD[_] = null
    var handed: RDD[_] = null
    Pins.scope(spark) { _ =>
      val r = Pins.scope(spark) { inner =>
        val a = inner(ids(40))
        dead = rddOf(a)
        val b = inner(a.select(($"id" * 3).as("id")))
        handed = rddOf(b)
        b
      }
      assert(!held(dead), "the nested scope sweeps what its result does not read")
      assert(held(handed), "the result's pins pass to the enclosing scope")
      assert(r.count() === 40L)
      spark.range(1).toDF()
    }
    assert(!held(handed), "the outer scope frees the pins handed to it")
  }
}
