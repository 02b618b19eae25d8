package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed graph traversal primitives built on iterative DataFrame
  * rounds — the same loop discipline as [[graft.dedup.Dedup]]: every round
  * is a bounded number of equi-joins + one aggregate, materialized with
  * `localCheckpoint` so the lineage (and therefore the analyzed plan) stays
  * O(1) in the round count rather than O(3^rounds).
  *
  * Scale notes (100 TB posture):
  *   - Both algorithms shuffle on the edge source key every round. On a
  *     real cluster the edge list would be pre-partitioned (bucketed) by
  *     `src` once, making each round's probe join a local join — the
  *     iteration count times per-round exchange cost is the whole game.
  *   - Frontiers/state are O(|V|) while edges are O(|E|); after the first
  *     checkpoint AQE sees the true (small) frontier sizes and broadcasts
  *     them into the edge join, so rounds cost one scan of E each, not a
  *     shuffle of E.
  *   - All arithmetic is integer (hop counts, 1e9-scaled ranks with
  *     explicit integer division), so results are bit-identical under any
  *     partitioning, task order, or merge order — the property the DuckDB
  *     hash gates (q94/q95) certify end-to-end.
  */
object Graph {

  /** Runs `f` with `spark.sql.shuffle.partitions` scaled to the round
    * loop's O(state) frame size, restoring the session value after.
    *
    * Iterated graph rounds exchange the STATE table (frontier / rank /
    * label — O(|V|) rows), not the corpus: at gate scale that is ~10⁴
    * rows, where the session default's per-task scheduling + shuffle-file
    * overhead dominates every round (measured 2.6 → 1.4 s on the q250
    * round loop at sf0.1 going 32 → 8 partitions). The computed value
    * grows linearly with the state and is CAPPED AT THE SESSION DEFAULT,
    * so a cluster-sized state keeps the configured parallelism — this
    * shrinks tiny exchanges, it never widens big ones. Results are
    * unaffected by construction: every round is integer min/sum
    * aggregation, partition-count-invariant.
    *
    * CONCURRENCY + LAZINESS CONTRACT (same single-threaded-harness
    * assumption as the streaming gates' shared-conf mutations): this
    * mutates the SESSION-global `spark.sql.shuffle.partitions` and
    * restores it on exit, so concurrent queries on the same session
    * would observe the shrunken value. Only ACTIONS EXECUTED INSIDE the
    * scope plan under the sized value — the round loops here checkpoint
    * every 1–2 rounds, which forces execution in-scope; a DataFrame
    * merely RETURNED from the scope plans its own exchanges under the
    * restored default (intended: the caller's final groupBy/orderBy over
    * the O(|V|) result is sized by the session, not by this scope).
    */
  /** Frees the storage blocks of a SUPERSEDED localCheckpoint round.
    *
    * The iterated loops checkpoint O(|V|) state every 1–2 rounds; without
    * an explicit release the dead rounds' blocks sit in the storage pool
    * until the Dataset is GC'd AND the ContextCleaner runs — in a
    * long-lived many-query session under heap pressure that standing
    * garbage is what forces the block manager to evict LIVE checkpoint
    * blocks (the r10 driver-bench q217 pathology: lineage-truncation
    * warnings + 3× wall). Releasing the previous round right after the
    * next one has EAGERLY materialized keeps the loop's storage footprint
    * at one round, deterministically. Only ever call this on state the
    * loop itself created and has replaced — a released checkpoint cannot
    * be recomputed (its lineage is truncated by construction). */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      // Defend in depth (round-11 ADVICE): only a frame whose WHOLE plan
      // is the checkpoint — a bare LogicalRDD root — may be released.
      // Matching every LogicalRDD in an arbitrary plan would let a future
      // call site hand in a DERIVED frame (e.g. a projection over a live
      // shared checkpoint like pageRank's `nodes`) and silently free
      // state another loop still joins; a released checkpoint cannot be
      // recomputed (lineage truncated by construction), so that bug class
      // must fail loudly at the call site instead.
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false); ()
      case other => throw new IllegalStateException(
        "releaseCheckpoint: expected a bare localCheckpoint frame " +
          s"(LogicalRDD root), got ${other.nodeName} - refusing to free " +
          "blocks a derived plan may share")
    }

  def withStateSizedShuffle[A](s: SparkSession, stateRows: Long)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    val sized = math.min(old.toLong, math.max(8L, stateRows / 16384L + 1L))
    s.conf.set(key, sized.toString)
    try f finally s.conf.set(key, old)
  }

  /** Multi-source BFS: minimum hop distance (0-based) from any source
    * node, explored up to `maxHops` rounds. Nodes not reached within the
    * cap are absent from the output — mirroring a bounded recursive-CTE
    * exploration.
    *
    * @param edges   directed edge list with columns (`src`, `dst`)
    * @param sources one-column frame of seed node ids (column `id`)
    * @return (`id`, `hop`) — the BFS level per reached node
    */
  def bfsHops(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val e = edges.select($"src", $"dst").localCheckpoint(true)
    var dist = sources.select($"id", lit(0).as("hop")).localCheckpoint(true)
    var frontier = dist.select($"id")
    // state-sized shuffle scope over the rounds (see
    // [[withStateSizedShuffle]]); the |V| probe is one approximate
    // stats job over the checkpointed edge list
    val out = withStateSizedShuffle(s,
        e.agg(approx_count_distinct($"dst").as("v")).collect()(0).getLong(0)) {
      var h = 1
      var exhausted = false
      while (h <= maxHops && !exhausted) {
        // one equi-join per round: neighbors of the CURRENT frontier only
        // — nodes already labeled never re-enter, so total work across
        // all rounds is one pass over E per reachable hop level, not per
        // node
        val nxt = frontier.join(e, frontier("id") === e("src"))
          .select($"dst".as("id")).distinct()
        val fresh = nxt.join(dist.select($"id"), Seq("id"), "left_anti")
          .select($"id", lit(h).as("hop")).localCheckpoint(true)
        // the union needs NO checkpoint of its own: every leg is already
        // a checkpoint scan, so the plan stays O(rounds) unions of flat
        // scans and each round pays exactly ONE materialization job
        // (`fresh`), not two
        dist = dist.union(fresh)
        frontier = fresh.select($"id")
        // `fresh` is already materialized (eager checkpoint), so the
        // empty probe is a block-manager lookup, not a job; an empty
        // frontier can never produce another level, so exiting early is
        // exact — it skips only rounds that would do a full edge probe
        // to derive nothing
        exhausted = fresh.rdd.isEmpty()
        h += 1
      }
      dist
    }
    // the returned frame is a union of flat checkpoint scans (dist0 +
    // per-round fresh); the edge pin only ever feeds the loop's probe
    // joins, whose outputs are all eagerly materialized — release it so
    // a long-lived session doesn't carry one dead |E|-sized pin per
    // sweep (round-15, guide §5: unpersist when done)
    releaseCheckpoint(e)
    out
  }

  /** PageRank with exact integer arithmetic: ranks are scaled by 1e9 and
    * every update is `base + (85 * sum(contrib)) div 100` with
    * `contrib = rank div outdegree` — all BIGINT, so the result is
    * independent of partitioning AND reproducible in any engine that
    * implements integer division (the q95 oracle replays the identical
    * recurrence in DuckDB). Classic damping 0.15/0.85 over a fixed
    * iteration count; dangling nodes are avoided by construction in the
    * gated graph (symmetric edges), and in the general case simply stop
    * contributing — their mass is dropped, as in the original formulation.
    *
    * @param edges directed edge list (`src`, `dst`); every src contributes
    *              rank/outdeg to each of its dsts per iteration
    * @param iters fixed number of update rounds
    * @return (`id`, `rank_scaled`) — 1e9-scaled integer rank per node
    */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    // outdegree is attached to the edge list ONCE; each round then pays a
    // single (rank ⋈ edges) probe join + one grouped sum
    val e = edges.select($"src", $"dst")
      .join(edges.groupBy($"src").agg(count(lit(1)).as("od")), "src")
      .localCheckpoint(true)
    val nodes = e.select($"src".as("id")).distinct()
      .union(e.select($"dst".as("id"))).distinct().localCheckpoint(true)
    val scale = 1000000000L
    // per-iteration checkpoints, under a state-sized shuffle scope: the
    // bake-off measured checkpointed rounds FASTER than cascading them
    // in one plan (AQE loses per-round stats and stops broadcasting the
    // rank side), and the sized scope cut the per-round exchange cost
    // ~30% at gate scale (1.74 → 1.26 s)
    val out = withStateSizedShuffle(s, nodes.count()) {
      var rank = nodes.select($"id", lit(scale).as("r"))
      for (i <- 1 to iters) {
        val contrib = e.join(rank, e("src") === rank("id"))
          .select($"dst", expr("r div od").as("c"))
          .groupBy($"dst").agg(sum($"c").as("c"))
        val prev = rank
        rank = nodes.join(contrib, nodes("id") === contrib("dst"), "left")
          .select($"id",
            expr(s"${scale * 15 / 100} + (85 * coalesce(c, 0)) div 100").as("r"))
          .localCheckpoint(true)
        // round i's state is eagerly on disk/memory now; free round i-1
        // (never the first: that is `nodes`, which the loop still joins)
        if (i > 1) releaseCheckpoint(prev)
      }
      rank.select($"id", $"r".as("rank_scaled"))
    }
    // with >= 1 round run, the result scans only the final round's
    // checkpoint — the edge and node pins are dead; release them
    // (round-15, guide §5). At iters == 0 the result IS a plan over
    // `nodes`, so the pins must stay.
    if (iters > 0) { releaseCheckpoint(e); releaseCheckpoint(nodes) }
    out
  }

  /** Weighted single-source (multi-source) shortest paths via bounded
    * Bellman-Ford: `rounds` relaxation sweeps, each one probe join of the
    * edge list against the current distance table followed by a grouped
    * MIN — after k rounds every node holds the exact shortest distance
    * over paths of ≤ k edges. Weights and distances are BIGINT, and MIN
    * is order-insensitive, so the per-round state is bit-identical under
    * any partitioning and an oracle can replay the recurrence as k
    * unrolled aggregation steps (q250).
    *
    * Scale shape: identical to [[pageRank]] — per round one shuffle of
    * the O(|V|) distance table onto the edge `src` key plus one grouped
    * min whose map-side combine caps the exchange at |V| rows; bucketing
    * edges by `src` makes the probe local on a real cluster. Relaxation
    * is monotone non-increasing, so stopping early at an unchanged round
    * is exact (MIN is idempotent) — rounds past convergence are no-ops.
    *
    * @param edges   directed weighted edge list (`src`, `dst`, `w`) with
    *                non-negative BIGINT weights
    * @param sources one-column frame of seed node ids (column `id`),
    *                distance 0
    * @param rounds  relaxation sweep count: distances are exact for
    *                shortest paths of up to `rounds` edges
    * @return (`id`, `dist`) for every node reachable within `rounds` hops
    */
  def ssspWeighted(edges: DataFrame, sources: DataFrame, rounds: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val e0 = edges.select($"src", $"dst", $"w").localCheckpoint(true)
    // ZERO-WEIGHT SELF-LOOPS (every graph node + every source) make the
    // carry-over a relaxation of its own: dist via the self-loop is
    // dist + 0 = dist, so one round is a plain INNER probe join + grouped
    // MIN — no union leg (the old shape referenced the state twice, and a
    // left-join carry blocks broadcast: Spark cannot broadcast the
    // PRESERVED side of an outer join, so every round shuffled). With the
    // inner join AQE sees the materialized O(|V|) state and broadcasts it
    // into the edge probe — the edge list never moves. Duplicate edges
    // are harmless by the same MIN argument.
    // the node set folds into e's single checkpoint (e0 is already
    // materialized, so its three scans here are RAM reads, not plan
    // recomputes); the shuffle-sizing |V| probe is an approximate
    // distinct in one cheap stats job — sizing needs magnitude, not
    // exactness
    val nodes = e0.select($"src".as("id")).union(e0.select($"dst".as("id")))
      .union(sources.select($"id")).distinct()
    val e = e0.union(nodes.select($"id".as("src"), $"id".as("dst"),
        lit(0L).as("w")))
      .localCheckpoint(true)
    val nV = e0.agg(approx_count_distinct($"src").as("v"))
      .collect()(0).getLong(0)
    def relax(cur: DataFrame): DataFrame =
      cur.as("c").join(e.as("g"), col("c.id") === col("g.src"))
        .select(col("g.dst").as("id"), (col("c.dist") + col("g.w")).as("dist"))
        .groupBy($"id").agg(min($"dist").as("dist"))
    // TWO rounds per materialized barrier, under a state-sized shuffle
    // scope: per-round cost at gate scale is task scheduling, not the
    // join (bake-off: batch2 + sized shuffle 1.4 s vs 2.9 s for the old
    // union shape at session defaults; deeper fusion measured SLOWER —
    // AQE loses per-round stats). Intermediates are never observed by
    // the oracle, which replays only the final round.
    val out = withStateSizedShuffle(s, nV) {
      var dist = sources.select($"id", lit(0L).as("dist")).localCheckpoint(true)
      var r = 0
      while (r < rounds) {
        val steps = math.min(2, rounds - r)
        var next = dist
        for (_ <- 1 to steps) next = relax(next)
        r += steps
        // the final batch materializes inside the sized scope too — a
        // caller-side action would otherwise re-plan its exchanges under
        // the restored session default
        val prev = dist
        dist = next.localCheckpoint(true)
        releaseCheckpoint(prev) // superseded round: free its blocks now
      }
      dist
    }
    // the result is the final round's flat checkpoint scan (rounds = 0:
    // the sources checkpoint) — both edge pins are dead at exit;
    // release them (round-15, guide §5)
    releaseCheckpoint(e0); releaseCheckpoint(e)
    out
  }

  /** Personalized PageRank: identical integer recurrence to [[pageRank]]
    * but the teleport mass lands ONLY on the seed set — the result ranks
    * nodes by proximity to the seeds (random walk with restart), the
    * standard "related items given this watch-list" primitive, rather
    * than by global centrality. Seeds start at full scale, everything
    * else at 0; per round `base(seed)=0.15·scale, base(other)=0` plus the
    * damped contribution sum — all BIGINT with explicit integer division,
    * so the q261 oracle replays the rounds exactly.
    *
    * @param edges  directed edge list (`src`, `dst`)
    * @param isSeed predicate Column over the node id column `id`
    * @param iters  fixed update rounds
    */
  def personalizedPageRank(edges: DataFrame, isSeed: Column => Column,
      iters: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val e = edges.select($"src", $"dst")
      .join(edges.groupBy($"src").agg(count(lit(1)).as("od")), "src")
      .localCheckpoint(true)
    val nodes = e.select($"src".as("id")).distinct()
      .union(e.select($"dst".as("id"))).distinct()
      .select($"id", isSeed($"id").cast("int").as("sd"))
      .localCheckpoint(true)
    val scale = 1000000000L
    // per-iteration checkpoints + state-sized shuffle — same measured
    // rationale as [[pageRank]]
    val out = withStateSizedShuffle(s, nodes.count()) {
      var rank = nodes.select($"id", ($"sd".cast("long") * scale).as("r"))
      for (i <- 1 to iters) {
        val contrib = e.join(rank, e("src") === rank("id"))
          .select($"dst", expr("r div od").as("c"))
          .groupBy($"dst").agg(sum($"c").as("c"))
        val prev = rank
        rank = nodes.join(contrib, nodes("id") === contrib("dst"), "left")
          .select($"id", $"sd",
            expr(s"sd * ${scale * 15 / 100} + (85 * coalesce(c, 0)) div 100").as("r"))
          .localCheckpoint(true)
        // free the superseded round (never round 0: that is a plan over
        // the checkpointed `nodes`, which the loop still joins)
        if (i > 1) releaseCheckpoint(prev)
      }
      rank.select($"id", $"r".as("rank_scaled"))
    }
    // same release argument as [[pageRank]] (round-15, guide §5)
    if (iters > 0) { releaseCheckpoint(e); releaseCheckpoint(nodes) }
    out
  }

  /** Temporal earliest-arrival reachability: edges carry a validity time
    * and a path must be TIME-RESPECTING — each hop's edge time must be at
    * or after the arrival time at its source (contact tracing / fraud-ring
    * propagation semantics; Holme & Saramäki 2012). Per round: one probe
    * join with the time constraint as a residual condition, then a grouped
    * MIN of arrival times — the same monotone integer relaxation
    * discipline as [[ssspWeighted]], so the state is partition-stable and
    * an oracle replays the recurrence as unrolled aggregation steps
    * (q254). After k rounds every node holds its exact earliest arrival
    * over time-respecting paths of ≤ k edges.
    *
    * @param edges   directed timed edge list (`src`, `dst`, `t`) with
    *                non-negative integer times
    * @param sources seed nodes (column `id`), arrival 0 — every edge with
    *                t ≥ 0 is usable from a seed
    * @param rounds  relaxation sweeps = max path length in edges
    * @return (`id`, `arrive`) for every node reachable within `rounds`
    *         time-respecting hops
    */
  def temporalEarliestArrival(edges: DataFrame, sources: DataFrame,
      rounds: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val e0 = edges.select($"src", $"dst", $"t").localCheckpoint(true)
    // SENTINEL SELF-LOOPS carry the state through an INNER join (same
    // broadcast argument as [[ssspWeighted]]): every node gets a
    // (v, v, t=MAX/2) loop, which always satisfies t >= arrive, and the
    // emitted candidate is `arrive` itself when src = dst — i.e. the
    // carry-over. A REAL self-loop in the input also lands in the carry
    // branch, which is still exact: its relaxed value would be some
    // t >= arrive, and MIN(arrive, t) = arrive — same result.
    val sentinel = Long.MaxValue / 2
    val nodes = e0.select($"src".as("id")).union(e0.select($"dst".as("id")))
      .union(sources.select($"id")).distinct()
    val e = e0.union(nodes.select($"id".as("src"), $"id".as("dst"),
        lit(sentinel).as("t")))
      .localCheckpoint(true)
    // PRECONDITION for the sentinel carry: every arrival time is bounded
    // by the max edge time, so sentinel >= arrive holds iff every edge
    // t < sentinel. An unsanitized edge with t >= 2^62 would silently
    // drop carry rows (the reached node vanishes) — fail loudly instead.
    // Shares the one bounded stats collect with the |V| estimate below.
    val stats = e0.agg(approx_count_distinct($"src").as("v"),
      max($"t").cast("long").as("tmax")).collect()(0)
    require(stats.isNullAt(1) || stats.getLong(1) < sentinel,
      s"temporalEarliestArrival: max edge time ${stats.getLong(1)} >= " +
        s"sentinel $sentinel — carry self-loops would be dropped; " +
        "sanitize edge timestamps first")
    val nV = stats.getLong(0)
    def relax(cur: DataFrame): DataFrame =
      cur.as("c").join(e.as("g"),
          col("c.id") === col("g.src") && col("g.t") >= col("c.arrive"))
        .select(col("g.dst").as("id"),
          when(col("g.src") === col("g.dst"), col("c.arrive"))
            .otherwise(col("g.t").cast("long")).as("arrive"))
        .groupBy($"id").agg(min($"arrive").as("arrive"))
    // batch-2 rounds under the state-sized shuffle scope — same
    // measured rationale as ssspWeighted
    val out = withStateSizedShuffle(s, nV) {
      var arr = sources.select($"id", lit(0L).as("arrive")).localCheckpoint(true)
      var r = 0
      while (r < rounds) {
        val steps = math.min(2, rounds - r)
        var next = arr
        for (_ <- 1 to steps) next = relax(next)
        r += steps
        val prev = arr
        arr = next.localCheckpoint(true)
        releaseCheckpoint(prev) // superseded round: free its blocks now
      }
      arr
    }
    // same release argument as [[ssspWeighted]] (round-15, guide §5)
    releaseCheckpoint(e0); releaseCheckpoint(e)
    out
  }

  /** Coreness (k-core number) of every vertex via iterated neighborhood
    * H-index (Lü et al. 2016): start from degree, repeatedly replace each
    * vertex's estimate with the H-index of its neighbors' estimates; the
    * fixed point is exactly the core decomposition. Estimates are
    * integers and MONOTONICALLY non-increasing, so the fixpoint — and
    * every intermediate round — is deterministic under any partitioning
    * (the q217 oracle replays the identical recurrence).
    *
    * Scale shape: each round is ONE probe join of the (pre-checkpointed)
    * edge list against the O(|V|) estimate table plus ONE hash aggregate
    * — the custom partial-combinable [[org.apache.spark.sql.graft
    * .HIndexLong]] histogram buffer, so there is no per-vertex sort and
    * map-side combine caps the exchange at |V| histogram rows. Bucketing
    * edges by `dst` on a real cluster makes the probe join local; round
    * count is bounded by graph structure (typically O(diameter-ish),
    * 14–20 on the gate corpora), not by |V|.
    *
    * @param edges     SYMMETRIC edge list (src, dst) — coreness is an
    *                  undirected notion; pass both directions
    * @param maxRounds loud upper bound: throws if the fixpoint is not
    *                  reached (silent truncation would emit coreness
    *                  OVER-estimates)
    * @return (id, coreness)
    */
  def coreness(edges: DataFrame, maxRounds: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val e0 = edges.select($"src", $"dst").localCheckpoint(true)
    var c = e0.groupBy($"src".as("id"))
      .agg(count(lit(1)).as("c"))
      .withColumn("chg", lit(true)) // every estimate "changed" at round 0
      .localCheckpoint(true)
    val nV = c.count()
    // DELTA ROUNDS (round-13): h(v) is a function of the NEIGHBORS'
    // estimates only, so after round r only vertices with a changed
    // in-neighbor can move — everything else is recomputed implicitly as
    // "unchanged". Each round therefore (1) probes the changed set
    // against the in-adjacency to find the touched vertices, (2) re-runs
    // the full-neighborhood H-index aggregate for the touched set ONLY
    // (their complete edge lists — the locality lemma needs the full
    // multiset), and (3) merges the updates into the estimate table,
    // carrying a per-row changed flag for the next round. Most vertices
    // converge in the first few rounds, so late-round work is
    // O(edges incident to the frontier), not O(|E|) — the full-reagg
    // loop this replaces scanned every edge all ~20 rounds.
    //
    // Physical discipline: the adjacency is pinned ONCE in both join
    // orientations (hash-partitioned + sorted by dst / by src — the
    // standard in-/out-adjacency double layout; localCheckpoint preserves
    // partitioning and ordering, so the per-round semi-joins reuse them
    // with no edge exchange and no re-sort), the estimate table stays
    // hash-partitioned by id across rounds (the merge join output feeds
    // the next round's checkpoint), and AQE is OFF inside the loop: the
    // stage shapes are fully prescribed, and per-stage adaptive jobs were
    // the measured local floor (111 jobs ≈ the whole q217 wall; one
    // checkpoint job + one convergence count per round here). Everything
    // that moves per round is frontier- or state-sized; the |E|-sized
    // frames never leave their pinned layout.
    val parts = math.min(
      s.conf.get("spark.sql.shuffle.partitions").toLong,
      math.max(8L, nV / 16384L + 1L)).toInt
    val loopConfs = Map(
      "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.adaptive.enabled" -> "false")
    val saved = loopConfs.keys.map(k => k -> s.conf.get(k)).toMap
    loopConfs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val eIn = e0.repartition(parts, $"dst").sortWithinPartitions($"dst")
        .localCheckpoint(true)
      val eOut = e0.repartition(parts, $"src").sortWithinPartitions($"src")
        .localCheckpoint(true)
      releaseCheckpoint(e0) // both pinned orientations are materialized
      var round = 0
      var converged = false
      var changed = nV // round-0 frontier: everything
      try {
      // merge an update stream into the estimate table, flagging movers.
      // upd arrives hash-partitioned by id (agg output / aligned with the
      // checkpointed cur). From round 1 on, cur is a merge output at the
      // loop width, so the join does not exchange it; round 0's cur is
      // checkpointed at the session width and is re-exchanged once — the
      // trade the ×10 rehearsal accepted (OPTIMIZATION_r15.md item 6)
      def merge(cur: DataFrame, upd: DataFrame): DataFrame =
        cur.select($"id", $"c".as("c0")).join(upd, Seq("id"), "left")
          .select($"id", coalesce($"h", $"c0").as("c"),
            ($"h".isNotNull && $"h" =!= $"c0").as("chg"))
      // FULL round: re-aggregate everyone — two exchanges total (the
      // state-sized estimate table to the pinned eIn layout, and the
      // partial-combined histogram buffers back to id). Right while the
      // frontier is still most of the graph
      def fullStep(cur: DataFrame): DataFrame =
        merge(cur, eIn
          .join(cur.select($"id".as("nid"), $"c".as("nc")), $"dst" === $"nid")
          .groupBy($"src".as("id"))
          .agg(org.apache.spark.sql.graft.hindex.hIndex($"nc").as("h")))
      // DELTA round: re-aggregate only vertices with a changed in-
      // neighbor; every exchange is frontier-sized (edges incident to the
      // changed set), never |E|
      def deltaStep(cur: DataFrame): DataFrame = {
        val act = cur.filter($"chg").select($"id".as("aid"))
        val touched = eIn.join(act, $"dst" === $"aid", "left_semi")
          .select($"src".as("tid")) // dup tids are fine for a semi probe
        merge(cur, eOut.join(touched, $"src" === $"tid", "left_semi")
          .join(cur.select($"id".as("nid"), $"c".as("nc")), $"dst" === $"nid")
          .groupBy($"src".as("id"))
          .agg(org.apache.spark.sql.graft.hindex.hIndex($"nc").as("h")))
      }
      while (round < maxRounds && !converged) {
        // ONE round AND one job per materialization. The round-12
        // fused-pair trick does NOT carry over: a frontier round
        // references its input THREE times (frontier, neighbor probe,
        // merge), so fusing recomputes the inner round's whole subplan
        // 3× inside one job (measured 9.0 → 15.8 s); against a
        // checkpoint each reference is a block scan. Instead the
        // convergence count IS the materializing action of a LAZY
        // checkpoint (the prefixSums idiom): one pass stores the round's
        // blocks and returns the changed count — no separate count job.
        // The step choice uses the previous round's exact changed count;
        // the probe showed frontier semi-joins move more edges than they
        // save until the frontier is genuinely sparse (a ~8% frontier
        // measured 0.77 s delta vs 0.20 s full), so delta rounds engage
        // at <1/64 of |V| — the regime where they matter at scale too
        val prev = c
        val step = if (changed * 64 >= nV) fullStep(c) else deltaStep(c)
        c = step.localCheckpoint(false)
        changed = c.filter($"chg").count() // materializes the checkpoint
        releaseCheckpoint(prev) // superseded round: free its blocks now
        round += 1
        // integer estimates + a no-change round = the fixpoint: every
        // skipped vertex was skipped BECAUSE its inputs were unchanged
        converged = changed == 0L
      }
      } finally {
        // release the |E|-sized pinned orientations even when a round
        // throws — a leak here degrades every later gate in the session
        releaseCheckpoint(eIn)
        releaseCheckpoint(eOut)
      }
      require(converged,
        s"coreness did not converge within $maxRounds rounds — raise the " +
          "bound; truncating would report inflated core numbers")
    } finally saved.foreach { case (k, v) => s.conf.set(k, v) }
    c.select($"id", $"c".as("coreness"))
  }
}
