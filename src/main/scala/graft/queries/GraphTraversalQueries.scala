package graft.queries

import graft.{Pins, QueryDef, QueryModule, Tables}
import graft.graph.Graph
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph traversal gates: multi-source BFS over the part co-purchase graph
  * and integer-exact PageRank over the customer↔supplier purchase graph.
  * Both are iterative DataFrame algorithms (see [[graft.graph.Graph]]) whose
  * every intermediate is integer-valued, so the DuckDB oracle can replay the
  * exact recurrence — a full hash gate on an iterative distributed
  * computation, not just a spec.
  *
  * Scale notes (100 TB posture):
  *   - The co-purchase edge build is one self-equi-join on the order key
  *     (lines per order is small and bounded, so fan-out is quadratic only
  *     in that small constant) followed by a distinct — both shuffle on
  *     keys Spark hash-partitions; no broadcast of anything O(|E|).
  *   - BFS work is one probe of the edge list per hop LEVEL (6 here), with
  *     the frontier — O(|V|) at worst — on the build side; AQE sees the
  *     checkpointed frontier's true size and broadcasts it.
  *   - PageRank rounds are (rank ⋈ edges) + grouped sum: the canonical
  *     shuffle-on-src pattern that bucketing by src turns into a local
  *     join on a real cluster. Ranks are 1e9-scaled BIGINTs with explicit
  *     integer division — bit-identical under any partitioning or engine.
  */
object GraphTraversalQueries extends QueryModule {

  /** Directed co-purchase edges: parts appearing in the same order.
    *
    * Built per-ORDER, not by self-join: group lineitem on l_orderkey,
    * collect the order's distinct part set (bounded by order size — ≤7
    * on TPC-H, carts of ~10² in the wild — so the array can never go
    * hub-sized), and explode its ordered x≠y combinations; one global
    * DISTINCT across orders remains, as in the oracle's `SELECT DISTINCT
    * ... a JOIN b` CTE. Same edge set (round-12 A/B: 2 392 000 rows both
    * shapes at sf0.1), but the self-join's full-table SMJ sort is gone —
    * the remaining wide exchanges are the partial-combinable groupBy on
    * l_orderkey and the unavoidable edge DISTINCT. Measured 4.2 s vs
    * 5.5 s same-session at sf0.1, and the scale story is strictly
    * better: per-order grouping is map-side combinable while the
    * self-join sort grows superlinearly with lineitem. */
  private def copurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey")
    // the grouped-arrays frame is bytes-tiny under a ~6× combination
    // explode — the named AQE over-coalesce trap; contract documented on
    // the operator. Only the CANONICAL (x < y) half of each pair is
    // exploded and deduped — half the explode output and half the
    // distinct's exchange — then mirrored, which cannot collide (x ≠ y
    // by construction): the sparseSymEdges discipline on the dense
    // graph, measured 4.2 → ~2.5 s of the q305-class builds at sf0.1.
    val und = graft.operators.PinnedExplode.pin(
        li.groupBy($"l_orderkey")
          .agg(collect_set($"l_partkey").as("ps")),
        $"l_orderkey")
      .select(explode(expr("flatten(transform(ps, x -> " +
        "transform(filter(ps, y -> y > x), y -> " +
        "struct(x AS src, y AS dst))))")).as("p"))
      .select($"p.src".as("src"), $"p.dst".as("dst")).distinct()
    und.union(und.select($"dst", $"src"))
  }

  /** q94: multi-source BFS hop distance — seeds are every ~97th part with
    * out-edges; output is each part reachable within 6 hops and its BFS
    * level. The oracle is a bounded recursive CTE whose UNION-dedup
    * frontier semantics match the loop's "never relabel a reached node"
    * invariant: both produce min-hop per node. */
  private def q94(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = copurchaseEdges(s, dir)
    val sources = edges.select($"src".as("id"))
      .filter($"id" % 97 === 0).distinct()
    Graph.bfsHops(edges, sources, maxHops = 6)
      .select($"id".as("part_id"), $"hop".as("hops"))
      .orderBy($"part_id")
  }
  private val q94Sql =
    """WITH RECURSIVE e AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |srcs AS (SELECT DISTINCT src AS id FROM e WHERE src % 97 = 0),
      |reach AS (
      |  SELECT id, 0 AS hop FROM srcs
      |  UNION
      |  SELECT e.dst, reach.hop + 1 FROM reach JOIN e ON reach.id = e.src
      |  WHERE reach.hop < 6
      |)
      |SELECT id AS part_id, min(hop) AS hops FROM reach
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Customer↔supplier purchase edges, symmetric, suppliers offset by 1e6
    * into a disjoint id space. Symmetry guarantees outdeg >= 1 for every
    * node (no dangling-mass special case to keep in parity). */
  private def purchaseEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e0 = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(s, dir).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("c"), $"l_suppkey".as("s")).distinct()
    e0.select($"c".as("src"), ($"s" + 1000000L).as("dst"))
      .union(e0.select(($"s" + 1000000L).as("src"), $"c".as("dst")))
  }

  private val prIters = 5

  /** q95: PageRank, 5 rounds, 1e9-scaled integer ranks. The oracle unrolls
    * the identical integer recurrence as 5 chained CTEs — every division is
    * integer division on non-negative BIGINTs, so Spark `div` and DuckDB
    * `//` agree exactly and the final ranks hash-match bit-for-bit. */
  private def q95(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Graph.pageRank(purchaseEdges(s, dir), prIters)
      .select($"id".as("node_id"), $"rank_scaled")
      .orderBy($"node_id")
  }
  private val q95Sql = {
    val rounds = (1 to prIters).map { i =>
      s"""r$i AS (SELECT n.id,
         |  CAST(150000000 + (85 * coalesce(s.c, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT ed.dst AS id, sum(r${i - 1}.r // ed.od) AS c
         |    FROM ed JOIN r${i - 1} ON ed.src = r${i - 1}.id GROUP BY 1) s
         |  USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS (SELECT c AS src, s + 1000000 AS dst FROM e0
       |  UNION ALL SELECT s + 1000000, c FROM e0),
       |d AS (SELECT src, count(*) AS od FROM e GROUP BY 1),
       |ed AS (SELECT e.src, e.dst, d.od FROM e JOIN d USING (src)),
       |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS r FROM nodes),
       |$rounds
       |SELECT id AS node_id, r AS rank_scaled FROM r$prIters
       |ORDER BY 1""".stripMargin
  }

  /** The SPARSE co-purchase adjacency, symmetric: consecutive-linenumber
    * part pairs within an order, both directions, simple (deduped) graph.
    * Shared by the graph gates that need a degree-spread topology (the
    * full per-order clique graph is too dense to have structure). The
    * self-join is required — synthetic lineitem has duplicate (orderkey,
    * linenumber) pairs, so a lag()-window pairing is NOT equivalent — and
    * the dedup is canonicalized BEFORE the distinct so its exchange
    * carries |adj| undirected pairs instead of 2|adj| directed rows (the
    * join predicate guarantees u ≠ v, so the mirror can never collide). */
  private def sparseSymEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey")
    val und = li.as("a").join(li.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" &&
          $"b.l_linenumber" === $"a.l_linenumber" + 1 &&
          $"a.l_partkey" =!= $"b.l_partkey")
      .select(least($"a.l_partkey", $"b.l_partkey").as("src"),
        greatest($"a.l_partkey", $"b.l_partkey").as("dst"))
      .distinct()
    und.union(und.select($"dst", $"src"))
  }

  /** q217: coreness (k-core number per vertex) of the co-purchase
    * ADJACENCY graph — the sparser consecutive-linenumber variant, whose
    * degree spread gives a 7..20 core spectrum (the full co-purchase
    * clique graph is so dense its core structure is flat). Computed by
    * iterated neighborhood H-index ([[graft.graph.Graph.coreness]]):
    * per-round ONE probe join + ONE hash aggregate through the
    * partial-combinable HIndexLong histogram — no per-vertex sort. The
    * oracle replays the identical integer recurrence as a recursive CTE
    * (window-ranked H-index), run for a fixed 28 rounds: past the
    * fixpoint rounds repeat verbatim, and the engine raises loudly if 28
    * rounds ever stop sufficing, so the two can only agree at the true
    * core decomposition. Coreness is the standard corpus-graph
    * diagnostic for "structurally central" items (dense-core mining /
    * influence floors) where raw degree over-counts hub-adjacency. */
  private def q217(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Graph.coreness(sparseSymEdges(s, dir), maxRounds = 28)
      .select($"id".as("part_id"), $"coreness")
      .orderBy($"part_id")
  }
  private val q217Sql = {
    val R = 28
    s"""WITH RECURSIVE adj AS (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey
       |    AND b.l_linenumber = a.l_linenumber + 1
       |  WHERE a.l_partkey <> b.l_partkey),
       |e AS (SELECT DISTINCT src, dst FROM (
       |  SELECT u AS src, v AS dst FROM adj
       |  UNION ALL SELECT v, u FROM adj)),
       |st(round, id, c) AS (
       |  SELECT 0, src, count(*) FROM e GROUP BY 2
       |  UNION ALL
       |  SELECT round + 1, id, max(h) FROM (
       |    SELECT s.round AS round, e.src AS id,
       |      CASE WHEN s.c < row_number() OVER (PARTITION BY s.round, e.src
       |                                         ORDER BY s.c DESC, e.dst)
       |           THEN s.c
       |           ELSE row_number() OVER (PARTITION BY s.round, e.src
       |                                   ORDER BY s.c DESC, e.dst) END AS h
       |    FROM e JOIN st s ON s.id = e.dst) q
       |  WHERE round < $R GROUP BY round, id)
       |SELECT id AS part_id, c AS coreness FROM st WHERE round = $R
       |ORDER BY part_id""".stripMargin
  }

  /** q236: Adamic-Adar link prediction on the co-purchase graph — the
    * "parts that SHOULD co-occur but don't yet" recommender primitive: for
    * each non-adjacent pair (u, v), score Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w)),
    * top-100. The two-hop expansion goes THROUGH middle vertices, so its
    * cost is Σ_w deg(w)² — quadratic in hub degree; the scale guard caps
    * middles at deg ≤ 64 (identically in the oracle). The cap is
    * principled, not just pragmatic: 1/ln(deg) already discounts hubs to
    * noise (1/ln(10⁴) ≈ 0.11 per hub vs 1/ln(2) ≈ 1.44 per rare middle),
    * so dropping deg>64 middles removes the quadratic cost while barely
    * perturbing scores — and deg ≥ 2 is required anyway (ln(1) = 0).
    * Scores are rounded at 6 dp BEFORE the top-k ordering, with (u, v) as
    * the total tie-break, so the LIMIT is engine-stable. */
  private def q236(s: SparkSession, dir: String): DataFrame = Pins.scope(s) { pins =>
    import s.implicits._
    val e = pins(copurchaseEdges(s, dir))
    // Per-middle neighbor ARRAYS instead of a mid-x-mid self-join: the
    // capped (deg <= 64) neighbor set of each middle w is collected once
    // (the deg prefilter runs BEFORE collect_list, so no unbounded hub
    // array can form at scale), sorted, and expanded to its u < v
    // combinations by a codegen'd nested-transform lambda. Same pair
    // stream as the SMJ self-join, one fewer shuffle (the x/y sides of
    // mid are gone) and no per-key d x d sort-merge expansion; the
    // groupBy(w) reuses the join's dst-partitioning. A/B at sf0.1:
    // 4.7 s (self-join) -> measured below; weight = 1/ln(deg) computed
    // once per middle, summed per pair — identical addend multiset, and
    // the 6-dp round absorbs float sum order exactly as before.
    val deg = e.groupBy($"dst".as("w")).agg(count(lit(1)).as("deg"))
    val pairs = e.join(deg.filter($"deg".between(2, 64)), $"dst" === $"w")
      .groupBy($"w").agg(array_sort(collect_list($"src")).as("ns"),
        first($"deg").as("deg"))
      // two codegen generators instead of one nested higher-order
      // transform (CodegenFallback + per-(x,i) struct allocations — the
      // q242 lesson): posexplode picks u with its index, a plain slice
      // explode yields every later v; both Generates stay inside
      // whole-stage codegen and the deg<=64 cap bounds the carried array
      .select($"ns", $"deg", posexplode($"ns").as(Seq("i", "u")))
      .select($"u", $"deg",
        explode(expr("slice(ns, i + 2, size(ns))")).as("v"))
      .select($"u", $"v", (lit(1.0) / log($"deg".cast("double"))).as("wgt"))
    pairs.groupBy($"u", $"v")
      .agg(round(sum($"wgt"), 6).as("aa6"),
        count(lit(1)).as("common"))
      .join(e.select($"src".as("u"), $"dst".as("v")), Seq("u", "v"),
        "left_anti")
      .orderBy($"aa6".desc, $"u", $"v")
      .limit(100)
  }
  private val q236Sql =
    """WITH e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |deg AS (SELECT src AS w, count(*) AS deg FROM e GROUP BY 1),
      |mid AS (SELECT e.src, e.dst AS w, d.deg FROM e
      |  JOIN deg d ON e.dst = d.w WHERE d.deg BETWEEN 2 AND 64),
      |p AS (SELECT x.src AS u, y.src AS v, x.deg AS wdeg
      |  FROM mid x JOIN mid y ON x.w = y.w AND x.src < y.src),
      |sc AS (SELECT u, v,
      |    round(sum(1.0::DOUBLE / ln(CAST(wdeg AS DOUBLE))), 6) AS aa6,
      |    CAST(count(*) AS BIGINT) AS common
      |  FROM p GROUP BY 1, 2),
      |ne AS (SELECT sc.* FROM sc
      |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = sc.u AND e.dst = sc.v))
      |SELECT u, v, aa6, common FROM ne
      |ORDER BY aa6 DESC, u, v LIMIT 100""".stripMargin

  private val ssspRounds = 6

  /** q250: weighted shortest paths (bounded Bellman-Ford,
    * [[graft.graph.Graph.ssspWeighted]]) over the consecutive-linenumber
    * adjacency graph — q94's BFS answers "how many hops", this answers
    * "how cheap": edge cost is the minimum combined quantity over the
    * pair's co-occurrences, distances are exact BIGINT sums, and after 6
    * relaxation sweeps every node holds the cheapest ≤6-edge path from
    * any seed. MIN-relaxation is order-insensitive integer math, so the
    * oracle replays the recurrence as 6 unrolled aggregation CTEs and the
    * hash gate certifies the whole iterative computation, per-round state
    * included. Unreached nodes are absent (same contract as q94). */
  private def q250(s: SparkSession, dir: String): DataFrame = Pins.scope(s) { pins =>
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_quantity")
    // NOTE: a lag()-window pairing is NOT equivalent here — the synthetic
    // lineitem has duplicate (orderkey, linenumber) pairs (11,785 groups
    // at sf0.01), and the join's cross-product across duplicates is part
    // of the gate's semantics. The self-join stays; what the old build
    // wasted is the TWO dedup aggregations after it: ssspWeighted's
    // relaxation MIN subsumes parallel edges, so both directions are
    // emitted raw via one explode (bake-off: 2.3 → 1.7 s warm).
    val qsum = ($"a.l_quantity".cast("long") + $"b.l_quantity".cast("long"))
      .as("w")
    val edges = pins(li.as("a").join(li.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" &&
          $"b.l_linenumber" === $"a.l_linenumber" + 1 &&
          $"a.l_partkey" =!= $"b.l_partkey")
      .select(explode(array(
        struct($"a.l_partkey".as("src"), $"b.l_partkey".as("dst"), qsum),
        struct($"b.l_partkey".as("src"), $"a.l_partkey".as("dst"), qsum)))
        .as("x"))
      .select($"x.src".as("src"), $"x.dst".as("dst"), $"x.w".as("w")))
    val sources = edges.select($"src".as("id"))
      .filter($"id" % 97 === 0).distinct()
    Graph.ssspWeighted(edges, sources, ssspRounds)
      .select($"id".as("part_id"), $"dist".as("dist_qty"))
      .orderBy($"part_id")
  }
  private val q250Sql = {
    val rounds = (1 to ssspRounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT id, min(dist) AS dist FROM (
         |  SELECT id, dist FROM d${i - 1}
         |  UNION ALL
         |  SELECT e.dst AS id, d${i - 1}.dist + e.w AS dist
         |  FROM d${i - 1} JOIN e ON d${i - 1}.id = e.src) q GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH adj AS (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v,
       |    min(CAST(a.l_quantity AS BIGINT) + CAST(b.l_quantity AS BIGINT)) AS w
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey
       |    AND b.l_linenumber = a.l_linenumber + 1
       |  WHERE a.l_partkey <> b.l_partkey GROUP BY 1, 2),
       |e AS MATERIALIZED (SELECT src, dst, min(w) AS w FROM (
       |  SELECT u AS src, v AS dst, w FROM adj
       |  UNION ALL SELECT v, u, w FROM adj) s GROUP BY 1, 2),
       |d0 AS MATERIALIZED (SELECT DISTINCT src AS id, CAST(0 AS BIGINT) AS dist
       |  FROM e WHERE src % 97 = 0),
       |$rounds
       |SELECT id AS part_id, dist AS dist_qty FROM d$ssspRounds
       |ORDER BY 1""".stripMargin
  }

  /** q252: local clustering coefficient — per-vertex triangle closure on
    * the consecutive-linenumber adjacency graph: c(v) = 2·T(v) / (d(v)·
    * (d(v)−1)) for d(v) ≥ 2, the standard "how clique-like is this node's
    * neighborhood" diagnostic (q83 enumerates triangles globally; this
    * distributes them back onto vertices). Triangles come from the same
    * canonical two-wedge-join closure as q83 — cost Σ deg², bounded on
    * this sparse chain graph — then each triangle credits its three
    * vertices via a 3-way projection union. T and d are exact longs; the
    * coefficient is one double division over them, rounded at 6 dp, so
    * both engines produce identical bits. */
  private def q252(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey")
    val adj = li.as("a").join(li.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" &&
          $"b.l_linenumber" === $"a.l_linenumber" + 1 &&
          $"a.l_partkey" =!= $"b.l_partkey")
      .select(least($"a.l_partkey", $"b.l_partkey").as("ea"),
        greatest($"a.l_partkey", $"b.l_partkey").as("eb"))
      .distinct()
    val deg = adj.select($"ea".as("id")).union(adj.select($"eb".as("id")))
      .groupBy($"id").agg(count(lit(1)).as("deg"))
    val tri = adj.as("e1")
      .join(adj.as("e2"), $"e1.eb" === $"e2.ea")
      .join(adj.as("e3"), $"e1.ea" === $"e3.ea" && $"e2.eb" === $"e3.eb")
      .select($"e1.ea".as("v1"), $"e1.eb".as("v2"), $"e2.eb".as("v3"))
    val perNode = tri.select($"v1".as("id"))
      .union(tri.select($"v2".as("id")))
      .union(tri.select($"v3".as("id")))
      .groupBy($"id").agg(count(lit(1)).as("tri"))
    deg.filter($"deg" >= 2)
      .join(perNode, Seq("id"), "left")
      .select($"id".as("part_id"), $"deg",
        coalesce($"tri", lit(0L)).as("triangles"),
        round(lit(2.0) * coalesce($"tri", lit(0L)).cast("double") /
          ($"deg".cast("double") * ($"deg".cast("double") - 1.0)), 6)
          .as("clustering6"))
      .orderBy($"part_id")
  }
  private val q252Sql =
    """WITH adj0 AS (
      |  SELECT least(a.l_partkey, b.l_partkey) AS ea,
      |         greatest(a.l_partkey, b.l_partkey) AS eb
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey
      |    AND b.l_linenumber = a.l_linenumber + 1
      |  WHERE a.l_partkey <> b.l_partkey),
      |adj AS (SELECT DISTINCT ea, eb FROM adj0),
      |deg AS (SELECT id, count(*) AS deg FROM (
      |  SELECT ea AS id FROM adj UNION ALL SELECT eb FROM adj) s GROUP BY 1),
      |tri AS (SELECT e1.ea AS v1, e1.eb AS v2, e2.eb AS v3
      |  FROM adj e1 JOIN adj e2 ON e1.eb = e2.ea
      |    JOIN adj e3 ON e1.ea = e3.ea AND e2.eb = e3.eb),
      |pn AS (SELECT id, count(*) AS tri FROM (
      |  SELECT v1 AS id FROM tri UNION ALL SELECT v2 FROM tri
      |  UNION ALL SELECT v3 FROM tri) s GROUP BY 1)
      |SELECT d.id AS part_id, d.deg,
      |  CAST(coalesce(pn.tri, 0) AS BIGINT) AS triangles,
      |  round(2.0 * CAST(coalesce(pn.tri, 0) AS DOUBLE) /
      |    (CAST(d.deg AS DOUBLE) * (CAST(d.deg AS DOUBLE) - 1.0)), 6)
      |    AS clustering6
      |FROM deg d LEFT JOIN pn ON d.id = pn.id
      |WHERE d.deg >= 2
      |ORDER BY part_id""".stripMargin

  private val hitsRounds = 3

  /** q253: HITS hubs & authorities on the BIPARTITE customer→supplier
    * purchase graph — the two-sided centrality PageRank (q95) cannot
    * express: a customer is a good hub because it buys from good
    * authorities, a supplier a good authority because good hubs buy from
    * it. Scores are 1e6-scaled BIGINTs re-normalized each half-round by
    * integer division against the round's max (a bounded O(1) scalar,
    * same collect discipline as the coreness convergence probe), so every
    * intermediate is exact and the oracle unrolls the identical
    * recurrence with scalar-subquery maxima. Non-negative inputs make
    * Spark `div` (truncate) and DuckDB `//` (floor) agree exactly — the
    * q95 precedent. */
  private def q253(s: SparkSession, dir: String): DataFrame = Pins.scope(s) { pins =>
    import s.implicits._
    val e = pins(Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(s, dir).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("c"), $"l_suppkey".as("su")).distinct())
    var h = e.select($"c").distinct().select($"c", lit(1000000L).as("h"))
    var a: DataFrame = null
    for (_ <- 1 to hitsRounds) {
      // EAGER pin, kept after a measured round trip: lazy (materialized
      // by the max-collect) saved 6 jobs and read better at sf0.1, but
      // ~15% slower at ×10 (8.45/8.31 s vs 6.65/7.55 s warm) — the next
      // half-round's join plans against an unmaterialized checkpoint
      // (no stats for AQE). Scale wins; see SCALE.md §Round 14 resumed.
      val araw = pins(e.join(h, "c").groupBy($"su").agg(sum($"h").as("ar")))
      pins.sweep(e, araw)
      // coalesce: an empty edge list must yield empty hub/authority
      // frames, not an NPE off the null max (the q217 empty-graph lesson)
      val ma = araw.agg(coalesce(max($"ar"), lit(1L))).collect().head.getLong(0)
      a = araw.select($"su", expr(s"ar * 1000000 div $ma").as("a"))
      val hraw = pins(e.join(a, "su").groupBy($"c").agg(sum($"a").as("hr")))
      val mh = hraw.agg(coalesce(max($"hr"), lit(1L))).collect().head.getLong(0)
      h = hraw.select($"c", expr(s"hr * 1000000 div $mh").as("h"))
    }
    h.select($"c".as("node_id"), lit("hub").as("kind"), $"h".as("score"))
      .union(a.select($"su".as("node_id"), lit("authority").as("kind"),
        $"a".as("score")))
      .orderBy($"kind", $"node_id")
  }
  private val q253Sql = {
    val rounds = (1 to hitsRounds).map { i =>
      s"""ar$i AS MATERIALIZED (SELECT e.su, CAST(sum(h${i - 1}.h) AS BIGINT) AS ar
         |  FROM e JOIN h${i - 1} ON e.c = h${i - 1}.c GROUP BY 1),
         |a$i AS MATERIALIZED (SELECT su,
         |  CAST(ar * 1000000 // (SELECT max(ar) FROM ar$i) AS BIGINT) AS a
         |  FROM ar$i),
         |hr$i AS MATERIALIZED (SELECT e.c, CAST(sum(a$i.a) AS BIGINT) AS hr
         |  FROM e JOIN a$i ON e.su = a$i.su GROUP BY 1),
         |h$i AS MATERIALIZED (SELECT c,
         |  CAST(hr * 1000000 // (SELECT max(hr) FROM hr$i) AS BIGINT) AS h
         |  FROM hr$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_suppkey AS su
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |h0 AS (SELECT DISTINCT c, CAST(1000000 AS BIGINT) AS h FROM e),
       |$rounds
       |SELECT c AS node_id, 'hub' AS kind, h AS score FROM h$hitsRounds
       |UNION ALL
       |SELECT su, 'authority', a FROM a$hitsRounds
       |ORDER BY kind, node_id""".stripMargin
  }

  /** q261: personalized PageRank (random walk with restart,
    * [[graft.graph.Graph.personalizedPageRank]]) — proximity to a seed
    * watch-list (customers with id % 101 = 0) on the same purchase graph
    * as q95: teleport mass lands only on the seeds, so high-rank nodes
    * are the suppliers-and-customers CLOSE to the seed set rather than
    * the globally central ones (the "related to these accounts"
    * recommender/investigation primitive). Same 1e9-scaled integer
    * recurrence and unrolled-CTE oracle as q95, with a seed-conditional
    * base term — the seed test is a pure id predicate, identical in both
    * engines, no membership join. */
  private def q261(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Graph.personalizedPageRank(purchaseEdges(s, dir),
      id => id % 101 === 0 && id < 1000000L, prIters)
      .select($"id".as("node_id"), $"rank_scaled")
      .orderBy($"node_id")
  }
  private val q261Sql = {
    val rounds = (1 to prIters).map { i =>
      s"""r$i AS MATERIALIZED (SELECT n.id,
         |  CAST(n.sd * 150000000 + (85 * coalesce(s.c, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT ed.dst AS id, sum(r${i - 1}.r // ed.od) AS c
         |    FROM ed JOIN r${i - 1} ON ed.src = r${i - 1}.id GROUP BY 1) s
         |  USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS MATERIALIZED (SELECT c AS src, s + 1000000 AS dst FROM e0
       |  UNION ALL SELECT s + 1000000, c FROM e0),
       |d AS (SELECT src, count(*) AS od FROM e GROUP BY 1),
       |ed AS MATERIALIZED (SELECT e.src, e.dst, d.od FROM e JOIN d USING (src)),
       |nodes AS MATERIALIZED (SELECT id,
       |    CASE WHEN id % 101 = 0 AND id < 1000000 THEN 1 ELSE 0 END AS sd
       |  FROM (SELECT src AS id FROM e UNION SELECT dst FROM e) t),
       |r0 AS (SELECT id, CAST(sd * 1000000000 AS BIGINT) AS r FROM nodes),
       |$rounds
       |SELECT id AS node_id, r AS rank_scaled FROM r$prIters
       |ORDER BY 1""".stripMargin
  }

  private val temporalRounds = 4

  /** q254: temporal earliest-arrival reachability
    * ([[graft.graph.Graph.temporalEarliestArrival]]) over the timed
    * bipartite purchase graph — contact-tracing semantics: an order on
    * day t links its customer and supplier in BOTH directions at time t,
    * a seed customer is "exposed" at day 0, and exposure propagates only
    * along time-respecting paths (each hop's order must be at or after
    * arrival at its endpoint). This is the operator behind fraud-ring /
    * account-compromise blast-radius queries, and is NOT expressible as
    * q94's BFS (reachability ignores edge times) or q250's SSSP (cost is
    * the EDGE TIME reached, not a sum). Arrival days are exact integers;
    * the oracle unrolls the min-relaxation recurrence. */
  private def q254(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e0 = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey",
        datediff($"o_orderdate".cast("date"), lit("1995-01-01").cast("date"))
          .cast("long").as("t"))
      .join(Tables.lineitem(s, dir).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("c"), ($"l_suppkey" + 1000000L).as("su"), $"t")
      .distinct()
    val edges = e0.select($"c".as("src"), $"su".as("dst"), $"t")
      .union(e0.select($"su".as("src"), $"c".as("dst"), $"t"))
    val seeds = e0.select($"c".as("id")).filter($"id" % 97 === 0).distinct()
    Graph.temporalEarliestArrival(edges, seeds, temporalRounds)
      .select($"id".as("node_id"), $"arrive".as("arrive_day"))
      .orderBy($"node_id")
  }
  private val q254Sql = {
    val rounds = (1 to temporalRounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT id, min(arrive) AS arrive FROM (
         |  SELECT id, arrive FROM d${i - 1}
         |  UNION ALL
         |  SELECT e.dst AS id, e.t AS arrive
         |  FROM d${i - 1} JOIN e ON d${i - 1}.id = e.src
         |    AND e.t >= d${i - 1}.arrive) q GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT o_custkey AS c,
       |    l_suppkey + 1000000 AS su,
       |    CAST(datediff('day', DATE '1995-01-01',
       |      CAST(o_orderdate AS DATE)) AS BIGINT) AS t
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS MATERIALIZED (SELECT c AS src, su AS dst, t FROM e0
       |  UNION ALL SELECT su, c, t FROM e0),
       |d0 AS MATERIALIZED (SELECT DISTINCT c AS id, CAST(0 AS BIGINT) AS arrive
       |  FROM e0 WHERE c % 97 = 0),
       |$rounds
       |SELECT id AS node_id, arrive AS arrive_day FROM d$temporalRounds
       |ORDER BY 1""".stripMargin
  }

  /** q303: deterministic RANDOM-WALK corpus — one length-8 walk from
    * every BFS seed over the co-purchase graph, the DeepWalk/node2vec
    * input-generation step (the walk table IS the training corpus a
    * skip-gram embedder consumes; generating it at scale is a data-prep
    * op, not a modeling one). Each step picks neighbor
    * adj[v][ Lehmer(walk_id, t, v) mod deg(v) ] over the (dst-sorted,
    * dense row_number-indexed) adjacency — a seed-folded Lehmer LCG in
    * exact BIGINT (mod-before-multiply keeps every intermediate under
    * 2^63), so both engines replay the identical walks; statistical
    * quality of the per-step draw is NOT the contract, determinism is
    * (the production swap-in is any keyed hash with the same signature).
    * Walks stop early at sinks (no out-edges) — both engines drop the
    * row, no sentinel.
    *
    * Scale shape: 8 bounded rounds of frontier ⋈ degree ⋈ adjacency
    * (shuffle on the node key, frontier localCheckpoint-pinned per round
    * — [[graft.graph.Graph]]'s discipline); the walk count is the seed
    * count, so the frontier never grows, and the oracle unrolls the same
    * 8 steps as MATERIALIZED CTEs. */
  private def q303(s: SparkSession, dir: String): DataFrame = Pins.scope(s) { pins =>
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val steps = 8
    val edges = pins(copurchaseEdges(s, dir))
    // indexed adjacency WITH degree, pinned ONCE — the 8 rounds each make
    // one map-side pass over it against the broadcast frontier (walk count
    // = seed count, so the frontier never outgrows a broadcast): zero
    // shuffles per round, and the ranking window runs exactly once
    val adjDeg = pins(edges.withColumn("idx",
        row_number().over(Window.partitionBy($"src").orderBy($"dst"))
          .cast("long") - 1L)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy($"src")))
      .select($"src".as("a_src"), $"dst".as("a_dst"), $"idx", $"deg"))
    var cur = pins(edges.select($"src").filter($"src" % 97 === 0).distinct()
      .select($"src".as("walk_id"), $"src".as("v")))
    pins.sweep(adjDeg, cur)
    val parts = Seq.newBuilder[DataFrame]
    parts += cur.select($"walk_id", lit(0L).as("step"), $"v".as("node"))
    for (t <- 1 to steps) {
      // EAGER pin, kept after a measured round trip: a lazy pin
      // (materialized by the next round's broadcast build) read 25-30%
      // faster at sf0.1 (28→20 jobs) but consistently ~20% SLOWER at
      // ×10 (warm 23.0/23.2 s vs 18.6/19.1 s) — the next round plans
      // against an unmaterialized checkpoint, losing the exact stats
      // the eager pin hands AQE (the pageRank round-fusion lesson).
      // Scale wins over the local job floor.
      cur = pins(adjDeg.join(broadcast(cur), $"a_src" === $"v")
        .filter($"idx" === expr(
          s"(((walk_id * 1000003 + $t * 10007 + v * 29) % 2147483647)" +
            " * 48271 % 2147483647) % deg"))
        .select($"walk_id", $"a_dst".as("v")))
      parts += cur.select($"walk_id", lit(t.toLong).as("step"),
        $"v".as("node"))
    }
    parts.result().reduce(_ unionAll _).orderBy($"walk_id", $"step")
  }
  private val q303Sql = {
    val steps = 8
    val rounds = (1 to steps).map { t =>
      s"""w$t AS MATERIALIZED (SELECT w.walk_id, a.dst AS v
         |  FROM w${t - 1} w
         |  JOIN deg d ON d.src = w.v
         |  JOIN adj a ON a.src = w.v
         |    AND a.idx = (((w.walk_id * 1000003 + $t * 10007 + w.v * 29)
         |      % 2147483647) * 48271 % 2147483647) % d.deg)""".stripMargin
    }.mkString(",\n")
    val out = (0 to steps).map(t =>
      s"SELECT walk_id, CAST($t AS BIGINT) AS step, v AS node FROM w$t")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |adj AS MATERIALIZED (SELECT src, dst,
       |    CAST(row_number() OVER (PARTITION BY src ORDER BY dst) AS BIGINT)
       |      - 1 AS idx FROM e),
       |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg
       |  FROM e GROUP BY 1),
       |w0 AS MATERIALIZED (SELECT DISTINCT src AS walk_id, src AS v
       |  FROM e WHERE src % 97 = 0),
       |$rounds
       |$out
       |ORDER BY walk_id, step""".stripMargin
  }

  /** q305: LOUVAIN phase-1 community detection — the modularity-GAIN
    * move loop (q295 only scores a GIVEN partition; this one finds one):
    * starting from singleton communities, each of 3 synchronous rounds
    * moves every node to the neighbor community maximizing the standard
    * gain comparison ΔQ(i→c) ∝ M·k_{i,c} − k_i·(tot_c − k_i·[c = own]),
    * computed in EXACT BIGINT (M = directed edge count = 2m on the
    * symmetric graph, so no ½ factors; overflow audit: k_i·tot_c ≤
    * deg·2m ≪ 2^63 at any rehearsed scale) with (score DESC, community
    * ASC) tie-pins — so the pre-convergence state after round 3 is a
    * deterministic integer fixed point both engines replay (the q259
    * bounded-rounds discipline; synchronous updates can oscillate, which
    * is WHY the gate pins a fixed round count rather than "until
    * converged"). Candidates are each node's neighbor communities plus
    * its own (the zero-support own-community case merges in after the
    * argmax — see the round-shape note in the body).
    *
    * Scale shape per round: community mass = one grouped sum; k_{i,c} =
    * one edges⋈labels grouped count (shuffle on src — the canonical
    * bucketing key); argmax = one partial-combinable min-struct
    * reduction per node (no candidate-stream sort). Labels
    * localCheckpoint-pin per round, superseded rounds released. */
  private def q305(s: SparkSession, dir: String): DataFrame = Pins.scope(s) { pins =>
    import s.implicits._
    val rounds = 3
    // lazy pin: the mTotal count materializes the blocks in its own job
    val edges0 = pins(copurchaseEdges(s, dir), eager = false)
    val mTotal = edges0.count() // scalar: directed edge count (= 2m)
    val deg = pins(edges0.groupBy($"src").agg(count(lit(1)).as("k")))
    // the count's real job is pinning the deg checkpoint; an empty
    // graph is a valid input and yields an empty labeling (the q268
    // convention across the graph gates — empty result, not a throw)
    if (deg.count() == 0) s.emptyDataset[(Long, Long)].toDF("node_id", "community")
    else {
      // Round shape (round-13 rework, each piece A/B'd at sf0.1): the
      // candidate stream (node, neighbor-community, k_{i,c}) is |E|-sized,
      // so (a) the argmax is the partial-combinable min(struct(-s, c))
      // reduction — same (score DESC, community ASC) tie rule as the
      // row_number window it replaces, without sorting the candidate
      // stream per round — and (b) the own-community zero-candidate is
      // merged AFTER the argmax with one least(): when (i, own) has
      // neighbor support it already dominates its zero row (s is monotone
      // in k_{i,c} at fixed c), so unioning |V| zero rows into the stream
      // and re-grouping it — a second |E|-sized shuffle per round — was
      // pure waste. AQE stays ON: runtime broadcasts of the |V|-sized
      // deg/labels/tot sides beat every prescribed shape tried (AQE-off
      // 9.6 s, state-sized width 11.6 s, edges pre-pinned by dst 9.5 s).
      var labels = pins(deg.select($"src".as("id"), $"src".as("lab")))
      for (_ <- 1 to rounds) {
        val tot = labels.join(deg, $"id" === $"src").drop("src")
          .groupBy($"lab").agg(sum($"k").as("tot"))
          .select($"lab".as("t_lab"), $"tot")
        val kic = edges0.join(labels.select($"id".as("dst_id"), $"lab"),
            $"dst" === $"dst_id")
          .groupBy($"src", $"lab").agg(count(lit(1)).as("kic"))
          .select($"src".as("id"), $"lab".as("c"), $"kic")
        val bestN = kic
          .join(deg.select($"src".as("id"), $"k"), Seq("id"))
          .join(labels.select($"id", $"lab".as("own")), Seq("id"))
          .join(tot, $"c" === $"t_lab")
          .select($"id", $"own", $"k",
            struct(
              (-(lit(mTotal) * $"kic" -
                $"k" * ($"tot" - when($"c" === $"own", $"k").otherwise(0L))))
                .as("ns"),
              $"c").as("cand"))
          .groupBy($"id")
          .agg(min($"cand").as("best"),
            first($"own").as("own"), first($"k").as("k"))
        labels = pins(bestN
          .join(tot, $"own" === $"t_lab")
          .select($"id", least($"best",
            struct(($"k" * ($"tot" - $"k")).as("ns"), $"own".as("c"))).as("best"))
          .select($"id", $"best.c".as("lab")))
        pins.sweep(edges0, deg, labels)
      }
      labels.select($"id".as("node_id"), $"lab".as("community"))
        .orderBy($"node_id")
    }
  }
  private val q305Sql = {
    val rounds = 3
    val body = (1 to rounds).map { t =>
      s"""tot$t AS MATERIALIZED (SELECT l.lab AS c,
         |    CAST(sum(d.k) AS BIGINT) AS tot
         |  FROM l${t - 1} l JOIN deg d ON d.src = l.id GROUP BY 1),
         |kic$t AS MATERIALIZED (SELECT e.src AS id, l.lab AS c,
         |    CAST(count(*) AS BIGINT) AS kic
         |  FROM e JOIN l${t - 1} l ON l.id = e.dst GROUP BY 1, 2),
         |cand$t AS MATERIALIZED (SELECT id, c, max(kic) AS kic FROM (
         |    SELECT id, c, kic FROM kic$t
         |    UNION ALL SELECT id, lab AS c, CAST(0 AS BIGINT) FROM l${t - 1}
         |  ) u GROUP BY 1, 2),
         |sc$t AS MATERIALIZED (SELECT cd.id, cd.c,
         |    mm.m * cd.kic - d.k *
         |      (t.tot - CASE WHEN l.lab = cd.c THEN d.k ELSE 0 END) AS s
         |  FROM cand$t cd
         |  JOIN deg d ON d.src = cd.id
         |  JOIN l${t - 1} l ON l.id = cd.id
         |  JOIN tot$t t ON t.c = cd.c
         |  CROSS JOIN mm),
         |l$t AS MATERIALIZED (SELECT id, c AS lab FROM (
         |    SELECT id, c, row_number() OVER (PARTITION BY id
         |      ORDER BY s DESC, c) AS rk FROM sc$t) z WHERE rk = 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |mm AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
       |deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS k
       |  FROM e GROUP BY 1),
       |l0 AS MATERIALIZED (SELECT src AS id, src AS lab FROM deg),
       |$body
       |SELECT id AS node_id, lab AS community FROM l$rounds
       |ORDER BY node_id""".stripMargin
  }

  /** q307: LUBY maximal-independent-set rounds over the co-purchase
    * graph — the classic distributed symmetry-breaking primitive (Luby
    * 1986) behind parallel coloring, scheduling, and conflict-free
    * sampling; a capability class none of the other graph gates touch
    * (components/centrality/communities all CLUSTER, MIS anti-clusters).
    * Deterministic variant: round r gives vertex v the priority key
    * `lcg(v, r)·2^31 + v` (the q303 seed-folded Lehmer LCG; the +v term
    * makes keys distinct, so the strict-< comparison is a total order
    * and ties are impossible by construction). A vertex joins the MIS
    * when its key beats every ACTIVE neighbor's (vertices isolated by
    * earlier removals win automatically); its neighbors become covered;
    * both leave the active set. 3 synchronous rounds, then survivors
    * report as `active` — statuses PARTITION the vertex set, which the
    * independence/coverage spec asserts structurally.
    *
    * Scale shape: the ACTIVE-RESTRICTED edge set is itself the iterated
    * frontier — each round runs one grouped min over it, derives
    * mis/covered, then shrinks it with two anti-joins on the removed
    * vertices (never re-restricting the full edge list), so round costs
    * fall with Luby's lemma (expected half the EDGES die per round); all
    * shuffles key on the node id, frontiers are localCheckpoint-pinned
    * ([[graft.graph.Graph]]'s discipline), and the oracle unrolls the
    * same 3 rounds as MATERIALIZED CTEs. */
  private def q307(s: SparkSession, dir: String): DataFrame = Pins.scope(s) { pins =>
    import s.implicits._
    val rounds = 3
    def keyOf(v: org.apache.spark.sql.Column, r: Int): org.apache.spark.sql.Column =
      ((v * lit(1000003L) + lit(r * 10007L)) % lit(2147483647L)) *
        lit(48271L) % lit(2147483647L) * lit(2147483648L) + v
    // round 1's er IS the full edge list (everything starts active)
    var er = pins(copurchaseEdges(s, dir))
    var active = pins(er.select($"src".as("v")).distinct())
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (r <- 1 to rounds) {
      val mn = er.groupBy($"src").agg(min(keyOf($"dst", r)).as("mn"))
      val mis = pins(active.join(mn, $"v" === mn("src"), "left")
        .filter($"mn".isNull || keyOf($"v", r) < $"mn")
        .select($"v"))
      val covered = pins(er
        .join(mis.select($"v".as("src")), Seq("src"), "leftsemi")
        .select($"dst".as("v")).distinct())
      out += mis.select($"v".as("node"), lit("mis").as("status"),
        lit(r.toLong).as("round"))
      out += covered.select($"v".as("node"), lit("covered").as("status"),
        lit(r.toLong).as("round"))
      active = pins(active.join(mis, Seq("v"), "leftanti")
        .join(covered, Seq("v"), "leftanti"))
      if (r < rounds) {
        val removedSrc = mis.select($"v".as("src"))
          .unionAll(covered.select($"v".as("src")))
        er = pins(er.join(removedSrc, Seq("src"), "leftanti")
          .join(removedSrc.select($"src".as("dst")), Seq("dst"), "leftanti"))
      }
      pins.sweep(Seq(er, active) ++ out: _*)
    }
    // survivors: round 0 = "not yet decided after 3 rounds"
    out += active.select($"v".as("node"), lit("active").as("status"),
      lit(0L).as("round"))
    out.reduce(_ unionAll _).orderBy($"node")
  }
  private val q307Sql = {
    def key(x: String, r: Int): String =
      s"((($x * 1000003 + ${r * 10007}) % 2147483647) * 48271 % 2147483647)" +
        s" * 2147483648 + $x"
    val rounds = (1 to 3).map { r =>
      s"""e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e
         |  JOIN a${r - 1} x ON e.src = x.v JOIN a${r - 1} y ON e.dst = y.v),
         |mn$r AS MATERIALIZED (SELECT src, min(${key("dst", r)}) AS mn
         |  FROM e$r GROUP BY 1),
         |m$r AS MATERIALIZED (SELECT a.v FROM a${r - 1} a
         |  LEFT JOIN mn$r ON mn$r.src = a.v
         |  WHERE mn$r.mn IS NULL OR ${key("a.v", r)} < mn$r.mn),
         |c$r AS MATERIALIZED (SELECT DISTINCT e$r.dst AS v
         |  FROM e$r JOIN m$r ON e$r.src = m$r.v),
         |a$r AS MATERIALIZED (SELECT v FROM a${r - 1}
         |  EXCEPT SELECT v FROM m$r EXCEPT SELECT v FROM c$r)""".stripMargin
    }.mkString(",\n")
    val out = (1 to 3).flatMap(r => Seq(
      s"SELECT v AS node, 'mis' AS status, CAST($r AS BIGINT) AS round FROM m$r",
      s"SELECT v, 'covered', CAST($r AS BIGINT) FROM c$r")) :+
      "SELECT v, 'active', CAST(0 AS BIGINT) FROM a3"
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |a0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM e),
       |$rounds
       |${out.mkString("\nUNION ALL\n")}
       |ORDER BY node""".stripMargin
  }

  override def queries: Seq[QueryDef] = Seq(
    QueryDef("q303_random_walks", q303, Some(q303Sql)),
    QueryDef("q307_luby_mis", q307, Some(q307Sql)),
    QueryDef("q305_louvain_phase1", q305, Some(q305Sql)),
    QueryDef("q94_bfs_reach", q94, Some(q94Sql)),
    QueryDef("q95_pagerank", q95, Some(q95Sql)),
    QueryDef("q217_coreness", q217, Some(q217Sql)),
    QueryDef("q236_adamic_adar", q236, Some(q236Sql)),
    QueryDef("q250_weighted_sssp", q250, Some(q250Sql)),
    QueryDef("q252_clustering_coeff", q252, Some(q252Sql)),
    QueryDef("q253_hits", q253, Some(q253Sql)),
    QueryDef("q254_temporal_reach", q254, Some(q254Sql)),
    QueryDef("q261_personalized_pagerank", q261, Some(q261Sql)),
    QueryDef("q268_pseudo_diameter", q268, Some(q268Sql)),
    QueryDef("q272_stress_centrality", q272, Some(q272Sql)),
    QueryDef("q280_ktruss", q280, Some(q280Sql)),
    QueryDef("q291_assortativity", q291, Some(q291Sql)),
    QueryDef("q295_nation_modularity", q295, Some(q295Sql)),
  )

  /** q295: Newman modularity of the nation partition over the
    * customer↔supplier purchase graph (q95's edges) — "do purchases stay
    * within a nation more than a random rewiring would predict", the
    * standard partition-quality score (and what q291's assortativity is
    * to degrees, this is to communities). Per community: intra-edge
    * count and degree mass from two grouped aggregates; each community's
    * contribution Q_c = intra/M − (d_c/M)² lands as integer ppb with
    * per-term floors ((intra·10⁹) div M and the d² term through
    * DECIMAL(38)/HUGEINT — d²·10⁹ exceeds int64), so the per-community
    * rows AND their total are exact integers both engines replay. The
    * symmetric directed edge list makes M = 2m and degrees = out-degrees
    * — no ½ factors to disagree over. */
  private def q295(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e0 = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(s, dir).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("c"), $"l_suppkey".as("s")).distinct()
    val cn = Tables.customer(s, dir).select($"c_custkey", $"c_nationkey")
    val sn = Tables.supplier(s, dir).select($"s_suppkey", $"s_nationkey")
    val lab = e0.join(broadcast(cn), $"c" === $"c_custkey")
      .join(broadcast(sn), $"s" === $"s_suppkey")
      .select($"c_nationkey".as("nc"), $"s_nationkey".as("ns"))
    val edges = lab.select($"nc".as("a"), $"ns".as("b"))
      .union(lab.select($"ns".as("a"), $"nc".as("b")))
    val m = edges.groupBy().agg(count(lit(1)).as("m_edges"))
      .withColumn("one", pmod($"m_edges", lit(1L)))
    val per = edges
      .groupBy($"a".as("nation"))
      .agg(count(lit(1)).as("deg_sum"),
        sum(when($"a" === $"b", 1L).otherwise(0L)).as("intra_edges"))
    per.withColumn("one", pmod($"deg_sum", lit(1L)))
      .join(broadcast(m), "one")
      .select($"nation", $"intra_edges", $"deg_sum",
        (expr("(intra_edges * 1000000000) div m_edges") -
          expr("CAST((CAST(deg_sum AS DECIMAL(38,0)) * deg_sum * 1000000000)" +
            " div (CAST(m_edges AS DECIMAL(38,0)) * m_edges) AS BIGINT)"))
          .as("q_contrib_ppb"))
      .orderBy($"nation")
  }
  private val q295Sql =
    """WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |lab AS (SELECT cn.c_nationkey AS nc, sn.s_nationkey AS ns
      |  FROM e0 JOIN customer cn ON e0.c = cn.c_custkey
      |  JOIN supplier sn ON e0.s = sn.s_suppkey),
      |e AS (SELECT nc AS a, ns AS b FROM lab
      |  UNION ALL SELECT ns, nc FROM lab),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM e),
      |per AS (SELECT a AS nation, CAST(count(*) AS BIGINT) AS deg_sum,
      |    CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS intra_edges
      |  FROM e GROUP BY 1)
      |SELECT nation, intra_edges, deg_sum,
      |  CAST((intra_edges * 1000000000) // m_edges
      |    - (CAST(deg_sum AS HUGEINT) * deg_sum * 1000000000)
      |      // (CAST(m_edges AS HUGEINT) * m_edges) AS BIGINT) AS q_contrib_ppb
      |FROM per CROSS JOIN m
      |ORDER BY nation""".stripMargin

  /** q291: degree assortativity — the Pearson correlation of endpoint
    * degrees over the symmetric co-purchase-adjacency edge list
    * (Newman's r): do high-degree parts connect to other hubs (r > 0)
    * or to leaves (r < 0)? The quantity that says whether the graph's
    * hubs form a rich club — which decides whether hub-capping
    * strategies like q236's deg≤64 prune bite. Degrees are exact longs,
    * all five moment sums over edges are exact longs (deg ≤ a few
    * hundred here, so Σd·d′ over |E| edges sits far inside int64; the
    * cite-able bound is |E|·maxdeg² < 2⁶³), and r is one double formula
    * over the six cells rounded at 6 dp — the q116/q278 moment
    * discipline on a graph. */
  private def q291(s: SparkSession, dir: String): DataFrame = Pins.scope(s) { pins =>
    import s.implicits._
    val edges = pins(sparseSymEdges(s, dir))
    val deg = edges.groupBy($"src".as("id")).agg(count(lit(1)).as("d"))
    val cells = edges
      .join(deg.select($"id".as("src"), $"d".as("du")), "src")
      .join(deg.select($"id".as("dst"), $"d".as("dv")), "dst")
      .agg(count(lit(1)).as("m"),
        sum($"du").as("sx"), sum($"dv").as("sy"),
        sum($"du" * $"dv").as("sxy"),
        sum($"du" * $"du").as("sxx"), sum($"dv" * $"dv").as("syy"))
    val (n, sx, sy) = ($"m".cast("double"), $"sx".cast("double"),
      $"sy".cast("double"))
    cells.select($"m".as("n_directed_edges"),
      round((n * $"sxy" - sx * sy) /
        (sqrt(n * $"sxx" - sx * sx) * sqrt(n * $"syy" - sy * sy)), 6)
        .as("assortativity6"))
  }
  private val q291Sql =
    """WITH adj AS (SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey
      |    AND b.l_linenumber = a.l_linenumber + 1
      |  WHERE a.l_partkey <> b.l_partkey),
      |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
      |  SELECT u AS src, v AS dst FROM adj
      |  UNION ALL SELECT v, u FROM adj) t),
      |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d
      |  FROM e GROUP BY 1),
      |cells AS (SELECT CAST(count(*) AS BIGINT) AS m,
      |    CAST(sum(a.d) AS BIGINT) AS sx, CAST(sum(b.d) AS BIGINT) AS sy,
      |    CAST(sum(a.d * b.d) AS BIGINT) AS sxy,
      |    CAST(sum(a.d * a.d) AS BIGINT) AS sxx,
      |    CAST(sum(b.d * b.d) AS BIGINT) AS syy
      |  FROM e JOIN deg a ON e.src = a.id JOIN deg b ON e.dst = b.id)
      |SELECT m AS n_directed_edges,
      |  round((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      |    / (sqrt(CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
      |      * sqrt(CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
      |    AS assortativity6
      |FROM cells""".stripMargin

  private val trussRounds = 3

  /** q280: 4-truss peeling — the EDGE-level cohesion sibling of q217's
    * vertex coreness: an edge survives iff it closes ≥ 2 triangles with
    * other SURVIVORS, so each round recounts per-edge support on the
    * current subgraph and drops weak edges (support is monotone
    * non-increasing under deletion — the same contraction argument as
    * coreness). Fixed 3 rounds, pre-convergence state part of the
    * contract (q262 discipline; the oracle replays the identical
    * truncation). Per round: one wedge join — canonical u<v edges fan
    * out by deg(u) against the symmetric adjacency, membership-checked
    * against it again, then a grouped count; everything shuffles on
    * vertex/edge keys, nothing is collected. Output: surviving edges
    * with their final-round support — the dense-cohesion backbone a
    * co-occurrence recommender mines. */
  private def q280(s: SparkSession, dir: String): DataFrame = Pins.scope(s) { pins =>
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey")
    val adj0 = li.as("a").join(li.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" &&
          $"b.l_linenumber" === $"a.l_linenumber" + 1 &&
          $"a.l_partkey" =!= $"b.l_partkey")
      .select($"a.l_partkey".as("u"), $"b.l_partkey".as("v"))
    var canon = pins(adj0.select(least($"u", $"v").as("u"), greatest($"u", $"v").as("v"))
      .distinct())
    var last: DataFrame = null
    for (_ <- 1 to trussRounds) {
      val sym = canon.select($"u".as("src"), $"v".as("dst"))
        .union(canon.select($"v".as("src"), $"u".as("dst")))
      val sup = canon
        .join(sym.select($"src".as("u"), $"dst".as("w")), "u")
        .join(sym.select($"src".as("v"), $"dst".as("w")), Seq("v", "w"))
        .groupBy($"u", $"v").agg(count(lit(1)).as("support"))
        .filter($"support" >= 2)
      last = pins(sup)
      canon = last.select($"u", $"v")
      pins.sweep(last)
    }
    last.select($"u", $"v", $"support").orderBy($"u", $"v")
  }
  private val q280Sql = {
    val rounds = (1 to trussRounds).map { i =>
      s"""s$i AS MATERIALIZED (SELECT c.u, c.v,
         |    CAST(count(*) AS BIGINT) AS support
         |  FROM c${i - 1} c
         |  JOIN (SELECT u AS src, v AS dst FROM c${i - 1}
         |        UNION ALL SELECT v, u FROM c${i - 1}) a1 ON a1.src = c.u
         |  JOIN (SELECT u AS src, v AS dst FROM c${i - 1}
         |        UNION ALL SELECT v, u FROM c${i - 1}) a2
         |    ON a2.src = c.v AND a2.dst = a1.dst
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |c$i AS MATERIALIZED (SELECT u, v FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH adj AS (SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey
       |    AND b.l_linenumber = a.l_linenumber + 1
       |  WHERE a.l_partkey <> b.l_partkey),
       |c0 AS MATERIALIZED (SELECT DISTINCT least(u, v) AS u,
       |    greatest(u, v) AS v FROM adj),
       |$rounds
       |SELECT u, v, support FROM s$trussRounds ORDER BY u, v""".stripMargin
  }

  private val pdHops = 16

  /** q268: pseudo-diameter by double-sweep BFS — the standard "how wide
    * is this graph" diagnostic (and the lower bound a BFS-ordering /
    * partitioning heuristic starts from): BFS from the minimum node id,
    * take the farthest reached node (hop DESC, id ASC — deterministic
    * argmax), BFS again from there; the second eccentricity is the
    * pseudo-diameter. Both sweeps are [[graft.graph.Graph.bfsHops]]
    * bounded at 16 levels (the bound is part of the contract and
    * replayed by the oracle's capped recursive CTEs); the only driver
    * transfers are the seed scalar and the one argmax row. */
  private def q268(s: SparkSession, dir: String): DataFrame = Pins.scope(s) { pins =>
    import s.implicits._
    // COLLECT-TERMINATED gate: both sweeps reduce to driver scalars and
    // the returned frame is a local Seq, so the scope frees every pin the
    // gate created, both bfsHops sweeps' per-level dist pins included.
    // Lazy pin: the seed argmin materializes the blocks in its own job.
    val edges = pins(sparseSymEdges(s, dir), eager = false)
    val seedRow = edges.agg(min($"src")).collect().head
    if (seedRow.isNullAt(0)) // empty graph: empty result, not an NPE
      Seq.empty[(Long, Long, Long, Long, Long)]
        .toDF("seed_id", "far1_id", "ecc1", "far2_id", "pseudo_diameter")
    else {
      val seed = seedRow.getLong(0)
      val b1 = Graph.bfsHops(edges, Seq(seed).toDF("id"), pdHops)
      val far1Row = b1.orderBy($"hop".desc, $"id").limit(1).collect().head
      val (far1, ecc1) = (far1Row.getLong(0), far1Row.getInt(1))
      val b2 = Graph.bfsHops(edges, Seq(far1).toDF("id"), pdHops)
      val far2Row = b2.orderBy($"hop".desc, $"id").limit(1).collect().head
      Seq((seed, far1, ecc1.toLong, far2Row.getLong(0),
          far2Row.getInt(1).toLong))
        .toDF("seed_id", "far1_id", "ecc1", "far2_id", "pseudo_diameter")
    }
  }
  private val q268Sql =
    s"""WITH RECURSIVE adj AS (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey
       |    AND b.l_linenumber = a.l_linenumber + 1
       |  WHERE a.l_partkey <> b.l_partkey),
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT u AS src, v AS dst FROM adj
       |  UNION ALL SELECT v, u FROM adj) t),
       |seed AS (SELECT min(src) AS id FROM e),
       |r1(id, hop) AS (
       |  SELECT id, 0 FROM seed
       |  UNION
       |  SELECT e.dst, r1.hop + 1 FROM r1 JOIN e ON r1.id = e.src
       |  WHERE r1.hop < $pdHops),
       |d1 AS MATERIALIZED (SELECT id, min(hop) AS hop FROM r1 GROUP BY 1),
       |far1 AS (SELECT id, hop FROM d1 ORDER BY hop DESC, id LIMIT 1),
       |r2(id, hop) AS (
       |  SELECT id, 0 FROM far1
       |  UNION
       |  SELECT e.dst, r2.hop + 1 FROM r2 JOIN e ON r2.id = e.src
       |  WHERE r2.hop < $pdHops),
       |d2 AS MATERIALIZED (SELECT id, min(hop) AS hop FROM r2 GROUP BY 1),
       |far2 AS (SELECT id, hop FROM d2 ORDER BY hop DESC, id LIMIT 1)
       |SELECT seed.id AS seed_id, far1.id AS far1_id,
       |  CAST(far1.hop AS BIGINT) AS ecc1, far2.id AS far2_id,
       |  CAST(far2.hop AS BIGINT) AS pseudo_diameter
       |FROM seed, far1, far2""".stripMargin

  private val stHops = 4

  /** q272: hop-bounded stress centrality from 4 seeds — "how many
    * shortest paths run THROUGH this vertex", the integer sibling of
    * betweenness (Brandes' δ-accumulation divides by σ, making the
    * result a float whose grouped summation order no engine pins; stress
    * keeps the SAME two-phase DP entirely in integers, so the oracle can
    * replay it exactly). Forward: level-synchronous BFS accumulating
    * path counts σ(v) = Σ_{preds at dist−1} σ — per level one edge-probe
    * join + grouped sum + anti-join against the visited set (the q94
    * frontier shape). Backward: continuation counts
    * φ(v) = Σ_{succ w, dist(w)=dist(v)+1} (1 + φ(w)) from the horizon
    * inward (φ ≡ 0 at the 4-hop horizon — the bound is part of the
    * contract), same join shape in reverse. stress(v) = Σ_seeds σ·φ for
    * interior vertices; top-20 by (stress DESC, id). σ and φ are bounded
    * by branching^hops ≈ 10⁴ on this consecutive-line adjacency, far
    * inside int64. Every frontier is localCheckpointed: 8 probe joins
    * over a lineage that would otherwise double per level. */
  private def q272(s: SparkSession, dir: String): DataFrame = Pins.scope(s) { pins =>
    import s.implicits._
    // σ counts paths over the SIMPLE symmetric graph — parallel edges
    // would change the result, so the shared builder's dedup is load-
    // bearing here
    val edges = pins(sparseSymEdges(s, dir))
    val f0 = pins(edges.select($"src").distinct().orderBy($"src").limit(4)
      .select($"src".as("seed"), $"src".as("id"), lit(1L).as("sigma")))
    // forward + backward sweeps at a state-sized width: the per-round
    // state is (seed, id) pairs, ≤ 4·|V| rows — tiny exchanges where the
    // session default's task overhead dominates
    val nV = edges.agg(approx_count_distinct($"src").as("v"))
      .collect()(0).getLong(0)
    pins.shrinkShuffle(4L * nV)
    // forward: layers(h) = vertices first reached at dist h, with σ
    val layers = scala.collection.mutable.ArrayBuffer(f0)
    var visited = pins(f0.select($"seed", $"id"))
    for (h <- 1 to stHops) {
      val fh = pins(layers(h - 1).join(edges, $"id" === $"src")
        .groupBy($"seed", $"dst").agg(sum($"sigma").as("sigma"))
        .select($"seed", $"dst".as("id"), $"sigma")
        .join(visited, Seq("seed", "id"), "left_anti"))
      layers += fh
      visited = pins(visited.union(fh.select($"seed", $"id")))
      pins.sweep(Seq(edges, visited) ++ layers: _*)
    }
    pins.sweep(Seq(edges) ++ layers: _*) // visited only filters the forward sweep
    // backward: φ from the horizon inward; interior stress accumulates
    var phi = layers(stHops).select($"seed", $"id", lit(0L).as("phi"))
    var stress: DataFrame = null
    for (h <- (stHops - 1) to 1 by -1) {
      val contrib = layers(h).select($"seed", $"id").join(edges, $"id" === $"src")
        .join(phi.select($"seed", $"id".as("dst"), $"phi"), Seq("seed", "dst"))
        .groupBy($"seed", $"id").agg(sum(lit(1L) + $"phi").as("phi"))
      val phiH = pins(layers(h)
        .join(contrib, Seq("seed", "id"), "left")
        .na.fill(0L, Seq("phi")))
      val part = phiH.select($"id", ($"sigma" * $"phi").as("sp"))
      stress = if (stress == null) part else stress.union(part)
      phi = phiH.select($"seed", $"id", $"phi")
    }
    stress.groupBy($"id".as("part_id")).agg(sum($"sp").as("stress"))
      .filter($"stress" > 0)
      .orderBy($"stress".desc, $"part_id").limit(20)
  }
  private val q272Sql = {
    val fwd = (1 to stHops).map { h =>
      s"""f$h AS MATERIALIZED (SELECT q.seed, q.id, q.sigma FROM (
         |  SELECT f${h - 1}.seed, e.dst AS id,
         |    CAST(sum(f${h - 1}.sigma) AS BIGINT) AS sigma
         |  FROM f${h - 1} JOIN e ON f${h - 1}.id = e.src
         |  GROUP BY 1, 2) q
         |  WHERE NOT EXISTS (SELECT 1 FROM v${h - 1} w
         |    WHERE w.seed = q.seed AND w.id = q.id)),
         |v$h AS MATERIALIZED (SELECT seed, id FROM v${h - 1}
         |  UNION SELECT seed, id FROM f$h)""".stripMargin
    }.mkString(",\n")
    val bwd = ((stHops - 1) to 1 by -1).map { h =>
      s"""p$h AS MATERIALIZED (SELECT f$h.seed, f$h.id,
         |    coalesce(c.phi, 0) AS phi
         |  FROM f$h LEFT JOIN (
         |    SELECT f$h.seed, f$h.id, CAST(sum(1 + p${h + 1}.phi) AS BIGINT) AS phi
         |    FROM f$h JOIN e ON f$h.id = e.src
         |    JOIN p${h + 1} ON p${h + 1}.seed = f$h.seed AND p${h + 1}.id = e.dst
         |    GROUP BY 1, 2) c ON c.seed = f$h.seed AND c.id = f$h.id)""".stripMargin
    }.mkString(",\n")
    val parts = (1 to stHops - 1).map { h =>
      s"SELECT f$h.id, f$h.sigma * p$h.phi AS sp FROM f$h " +
        s"JOIN p$h ON p$h.seed = f$h.seed AND p$h.id = f$h.id"
    }.mkString(" UNION ALL ")
    s"""WITH adj AS (SELECT a.l_partkey AS u, b.l_partkey AS v
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey
       |    AND b.l_linenumber = a.l_linenumber + 1
       |  WHERE a.l_partkey <> b.l_partkey),
       |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT u AS src, v AS dst FROM adj
       |  UNION ALL SELECT v, u FROM adj) t),
       |f0 AS MATERIALIZED (SELECT id AS seed, id, CAST(1 AS BIGINT) AS sigma
       |  FROM (SELECT src AS id FROM e GROUP BY 1 ORDER BY 1 LIMIT 4) s),
       |v0 AS MATERIALIZED (SELECT seed, id FROM f0),
       |$fwd,
       |p$stHops AS (SELECT seed, id, CAST(0 AS BIGINT) AS phi FROM f$stHops),
       |$bwd
       |SELECT id AS part_id, CAST(sum(sp) AS BIGINT) AS stress
       |FROM ($parts) u
       |GROUP BY 1 HAVING sum(sp) > 0
       |ORDER BY stress DESC, part_id LIMIT 20""".stripMargin
  }
}
