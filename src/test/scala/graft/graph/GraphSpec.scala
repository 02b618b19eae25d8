package graft.graph

import graft.SparkTestBase

/** [[Graph]] unit tests on hand-built graphs with known answers, plus the
  * partitioning-independence property the integer arithmetic is meant to
  * guarantee. */
class GraphSpec extends SparkTestBase {
  import spark.implicits._

  test("bfsHops labels a path graph with exact levels and respects the cap") {
    // 1 -> 2 -> 3 -> ... -> 9, source {1}
    val edges = (1 to 8).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    val sources = Seq(1L).toDF("id")
    val got = Graph.bfsHops(edges, sources, maxHops = 4)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4))
  }

  test("bfsHops takes the min hop across multiple sources and branches") {
    // diamond: 1->2, 1->3, 2->4, 3->4, plus far source 10 -> 4
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (10L, 4L))
      .toDF("src", "dst")
    val sources = Seq(1L, 10L).toDF("id")
    val got = Graph.bfsHops(edges, sources, maxHops = 6)
      .as[(Long, Int)].collect().toMap
    // 4 is reachable at hop 1 (via 10) even though 1's paths need 2 hops
    assert(got === Map(1L -> 0, 10L -> 0, 2L -> 1, 3L -> 1, 4L -> 1))
  }

  test("bfsHops never relabels: cycles terminate with first-discovery levels") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val got = Graph.bfsHops(edges, Seq(1L).toDF("id"), maxHops = 9)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("pageRank on a symmetric star ranks the hub above the spokes") {
    val spokes = (2L to 6L)
    val edges = (spokes.map(v => (1L, v)) ++ spokes.map(v => (v, 1L)))
      .toDF("src", "dst")
    val r = Graph.pageRank(edges, iters = 5).as[(Long, Long)].collect().toMap
    val hub = r(1L)
    assert(spokes.forall(v => r(v) < hub), s"hub should dominate: $r")
    assert(spokes.map(r).toSet.size === 1, "spokes are symmetric")
  }

  test("pageRank is bit-identical across partitionings (integer arithmetic)") {
    val e = (1L to 60L).flatMap(i => Seq((i, i % 7 + 100L), (i % 7 + 100L, i)))
      .toDF("src", "dst")
    val a = Graph.pageRank(e.repartition(1), 4).as[(Long, Long)].collect().toMap
    val b = Graph.pageRank(e.repartition(13), 4).as[(Long, Long)].collect().toMap
    assert(a === b)
  }

  test("ssspWeighted prefers the cheap long way over the expensive edge") {
    // 1 -> 3 direct costs 10; 1 -> 2 -> 3 costs 2 + 3 = 5
    val edges = Seq((1L, 3L, 10L), (1L, 2L, 2L), (2L, 3L, 3L))
      .toDF("src", "dst", "w")
    val got = Graph.ssspWeighted(edges, Seq(1L).toDF("id"), rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0, 2L -> 2, 3L -> 5))
  }

  test("ssspWeighted round cap bounds path length: k rounds = ≤k edges") {
    // chain 1 -> 2 -> 3 -> 4 -> 5, unit weights
    val edges = (1 to 4).map(i => (i.toLong, i.toLong + 1, 1L))
      .toDF("src", "dst", "w")
    val got = Graph.ssspWeighted(edges, Seq(1L).toDF("id"), rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 2), "node 4 needs 3 edges")
  }

  test("ssspWeighted takes the min over sources and is partition-stable") {
    val edges = ((1L to 40L).map(i => (i, i + 1, (i % 5) + 1)) ++
      Seq((100L, 20L, 1L))).toDF("src", "dst", "w")
    val sources = Seq(1L, 100L).toDF("id")
    val a = Graph.ssspWeighted(edges.repartition(1), sources, 8)
      .as[(Long, Long)].collect().toMap
    val b = Graph.ssspWeighted(edges.repartition(11), sources, 8)
      .as[(Long, Long)].collect().toMap
    assert(a === b)
    // 20 is adjacent to source 100 at cost 1, far cheaper than the chain
    assert(a(20L) === 0L + 1L)
    // relaxation through 20 must use the min'd distance, not the chain's
    assert(a(21L) === a(20L) + (20L % 5) + 1)
  }

  test("personalizedPageRank concentrates mass near the seed, not the hub") {
    // symmetric star (hub 1, spokes 2..6) plus a tail 6 -> 7 -> 6;
    // seed = {6}: spoke 6 and its private neighbor 7 must outrank the
    // other spokes, which global pageRank treats identically to 6
    val spokes = (2L to 6L)
    val edges = (spokes.map(v => (1L, v)) ++ spokes.map(v => (v, 1L)) ++
      Seq((6L, 7L), (7L, 6L))).toDF("src", "dst")
    val r = Graph.personalizedPageRank(edges, id => id === 6L, 5)
      .as[(Long, Long)].collect().toMap
    assert(r(6L) > r(2L) && r(7L) > r(2L),
      s"seed neighborhood should dominate symmetric spokes: $r")
    assert((2L to 5L).map(r).toSet.size === 1, "non-seed spokes symmetric")
  }

  test("personalizedPageRank is bit-identical across partitionings") {
    val e = (1L to 60L).flatMap(i => Seq((i, i % 7 + 100L), (i % 7 + 100L, i)))
      .toDF("src", "dst")
    val a = Graph.personalizedPageRank(e.repartition(1), _ % 5 === 0, 4)
      .as[(Long, Long)].collect().toMap
    val b = Graph.personalizedPageRank(e.repartition(13), _ % 5 === 0, 4)
      .as[(Long, Long)].collect().toMap
    assert(a === b)
  }

  test("temporalEarliestArrival only follows time-respecting paths") {
    // 1 -(t5)-> 2 -(t3)-> 3: the 2->3 edge happened BEFORE arrival at 2,
    // so 3 is unreachable; 1 -(t5)-> 2 -(t7)-> 4 works
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 3L), (2L, 4L, 7L))
      .toDF("src", "dst", "t")
    val got = Graph.temporalEarliestArrival(edges, Seq(1L).toDF("id"), 4)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0, 2L -> 5, 4L -> 7))
  }

  test("temporalEarliestArrival arrival is the min edge time, partition-stable") {
    // two routes to 3: direct at t9, or via 2 arriving t2 then t4
    val edges = Seq((1L, 3L, 9L), (1L, 2L, 2L), (2L, 3L, 4L),
      (3L, 5L, 6L), (3L, 5L, 3L)).toDF("src", "dst", "t")
    val a = Graph.temporalEarliestArrival(edges.repartition(1),
      Seq(1L).toDF("id"), 5).as[(Long, Long)].collect().toMap
    val b = Graph.temporalEarliestArrival(edges.repartition(7),
      Seq(1L).toDF("id"), 5).as[(Long, Long)].collect().toMap
    assert(a === b)
    assert(a(3L) === 4L, "earliest arrival takes the via-2 route")
    // arriving at 3 at t4, the t3 edge to 5 is stale but the t6 one works
    assert(a(5L) === 6L)
  }
}
