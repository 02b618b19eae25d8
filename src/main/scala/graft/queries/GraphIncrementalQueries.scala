package graft.queries

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental-maintenance and graph-analytic operators: materialized-view
  * style partial-aggregate merge (the pattern that turns a nightly full
  * rescan into a micro-batch update), triangle enumeration over the
  * document-similarity graph (the clustering-coefficient primitive), and
  * grouped z-score outlier detection (the statistical DQ check).
  *
  * Scale notes (100 TB posture):
  *   - q82's state rows are CONSTANT-SIZE per group (count + decimal sum +
  *     min/max): merging yesterday's state with today's partials is a
  *     union of |groups| + |new partials| rows and one tiny aggregate —
  *     never a rescan of history. Decimal sums make the merge EXACTLY
  *     equal to the full recompute (the oracle runs the full recompute,
  *     so any drift between the two paths hash-fails).
  *   - q83 joins the edge list to itself twice on single-key equi-joins;
  *     edges are canonicalized a < b so each triangle appears exactly
  *     once, and the wedge fan-out is bounded by the near-dup graph's
  *     degree (banded candidate generation keeps degrees small by
  *     construction).
  *   - q84 is two passes over events: one grouped moment aggregate
  *     (decimal sums, order-independent), then a broadcast join of the
  *     5-row moment table back onto the stream. No window, no sort.
  */
object GraphIncrementalQueries extends QueryModule {

  /** 2024-01-21 00:00 UTC in epoch ns — splits the fixed 30-day event
    * window into a 20-day "history" (the stored aggregate state) and a
    * 10-day "increment" (the new micro-batch). */
  private val cutoffNs = 1705795200000000000L

  /** q214: incremental maintenance of a JOIN view — the delta-join
    * algebra q82 stops short of. The maintained view is per-nation order
    * stats over orders ⋈ customer; a batch delivers BOTH new orders
    * (o_orderkey % 10 = 0) and new customers (c_custkey % 20 = 0), and
    * the view advances by the inclusion–exclusion expansion
    *
    *   (O+ΔO) ⋈ (C+ΔC) = O⋈C  +  ΔO⋈C  +  O⋈ΔC  +  ΔO⋈ΔC
    *
    * — three delta terms added to the stored base view, never a full
    * recompute. Every term's aggregate is partial-combinable (count +
    * DECIMAL sum), so the merge is one re-aggregation of four partials.
    * The oracle computes the full join in one pass: the hash gate proves
    * the expansion is EXACT, not approximately refreshed. Scale: each
    * delta term joins a batch-sized side against the base — the batch
    * side broadcasts (hinted); the base⋈base term here stands for the
    * stored materialization, which at 100 TB is read, not recomputed. */
  private def q214(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir).select($"c_custkey", $"c_nationkey")
    val ord = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val custB = cust.where(pmod($"c_custkey", lit(20L)) =!= 0L)
    val custD = cust.where(pmod($"c_custkey", lit(20L)) === 0L)
    val ordB = ord.where(pmod($"o_orderkey", lit(10L)) =!= 0L)
    val ordD = ord.where(pmod($"o_orderkey", lit(10L)) === 0L)
    // broadcast whichever side is the batch-sized delta (both, for ΔΔ)
    def term(o: DataFrame, c: DataFrame): DataFrame =
      o.join(c, $"o_custkey" === $"c_custkey")
        .groupBy($"c_nationkey").agg(
          count(lit(1)).as("n"),
          sum($"o_totalprice".cast("decimal(28,2)")).as("rev"))
    term(ordB, custB)                            // stored base view
      .unionByName(term(broadcast(ordD), custB)) // ΔO ⋈ C
      .unionByName(term(ordB, broadcast(custD))) // O ⋈ ΔC
      .unionByName(term(broadcast(ordD), custD)) // ΔO ⋈ ΔC
      .groupBy($"c_nationkey")
      .agg(sum($"n").as("n_orders"),
        round(sum($"rev").cast("double"), 2).as("revenue"))
      .orderBy($"c_nationkey")
  }
  private val q214Sql =
    """SELECT c.c_nationkey, count(*) AS n_orders,
      |  round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(28,2))) AS DOUBLE), 2)
      |    AS revenue
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY c.c_nationkey ORDER BY c.c_nationkey""".stripMargin

  /** q82: incremental aggregate maintenance — per-group (count, decimal
    * sum, min, max) partials computed separately over history and
    * increment, then merged by re-aggregation. The output is the MERGED
    * state; the oracle computes the same aggregate over ALL events in one
    * pass, so the check proves partial-merge == full-recompute exactly. */
  private def q82(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"event_type", $"ts", $"value")
    def partial(df: DataFrame): DataFrame =
      df.groupBy($"event_type").agg(
        count(lit(1)).as("n"),
        sum($"value".cast("decimal(28,10)")).as("sv"),
        min($"ts").as("mn"), max($"ts").as("mx"))
    val state = partial(ev.filter($"ts" < cutoffNs))   // stored MV state
    val batch = partial(ev.filter($"ts" >= cutoffNs))  // new micro-batch
    state.unionByName(batch)
      .groupBy($"event_type")
      .agg(sum($"n").as("n_events"), sum($"sv").as("sv"),
        min($"mn").as("mn"), max($"mx").as("mx"))
      .select($"event_type", $"n_events",
        round($"sv".cast("double"), 6).as("total_value"),
        round($"sv".cast("double") / $"n_events", 6).as("avg_value"),
        expr("mn div 1000").as("first_ts_us"),
        expr("mx div 1000").as("last_ts_us"))
      .orderBy($"event_type")
  }
  private val q82Sql =
    """SELECT event_type, count(*) AS n_events,
      |  round(CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 6) AS total_value,
      |  round(CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS avg_value,
      |  min(epoch_ns(ts)) // 1000 AS first_ts_us,
      |  max(epoch_ns(ts)) // 1000 AS last_ts_us
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** q83: triangle enumeration over the shingle-similarity graph (edges =
    * document pairs sharing >= 3 distinct 3-gram shingles, canonicalized
    * doc_a < doc_b). Two equi-joins close each wedge (v1<v2, v2<v3) with
    * its base edge (v1<v3) — every triangle reported exactly once in
    * canonical vertex order. */
  private def q83(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = TextDedupQueries.shingles(s, dir)
    val edges = sh.as("a").join(sh.as("b").hint("shuffle_hash"),
        $"a.shingle" === $"b.shingle" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("ea"), $"b.doc_id".as("eb"))
      .agg(count(lit(1)).as("inter"))
      .filter($"inter" >= 3)
      .select($"ea", $"eb")
    edges.as("e1")
      .join(edges.as("e2"), $"e1.eb" === $"e2.ea")
      .join(edges.as("e3"),
        $"e1.ea" === $"e3.ea" && $"e2.eb" === $"e3.eb")
      .select($"e1.ea".as("v1"), $"e1.eb".as("v2"), $"e2.eb".as("v3"))
      .orderBy($"v1", $"v2", $"v3")
  }
  private val q83Sql =
    s"""${TextDedupQueries.shinglesSql},
      |pairs AS (SELECT a.doc_id AS ea, b.doc_id AS eb, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |e AS (SELECT ea, eb FROM pairs WHERE inter >= 3)
      |SELECT e1.ea AS v1, e1.eb AS v2, e2.eb AS v3
      |FROM e e1 JOIN e e2 ON e1.eb = e2.ea
      |  JOIN e e3 ON e1.ea = e3.ea AND e2.eb = e3.eb
      |ORDER BY v1, v2, v3""".stripMargin

  /** q84: grouped z-score outlier detection — mean/stddev per event type
    * from decimal moment sums (order-independent across partitionings),
    * then every event scored against its group's moments. Per-row squares
    * are double multiplies (bit-identical across engines) cast to decimal
    * BEFORE summing, so the moments are exact; the z formula then runs in
    * pure double arithmetic identically on both sides. */
  private def q84(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"event_type", $"value")
    // degenerate groups are excluded up front, identically to the oracle:
    // n = 1 divides by zero in the sample variance, and a constant-valued
    // group's variance can round to a tiny NEGATIVE double whose sqrt is
    // NaN in Spark but an error in DuckDB — greatest(.., 0) clamps the
    // rounding, the std > 0 filter drops true constants
    val m = ev.groupBy($"event_type").agg(
        count(lit(1)).as("n"),
        sum($"value".cast("decimal(28,10)")).cast("double").as("sv"),
        sum(($"value" * $"value").cast("decimal(28,10)")).cast("double").as("svv"))
      .filter($"n" >= 2)
      .select($"event_type", $"n", ($"sv" / $"n").as("mean"),
        sqrt(greatest($"svv" - $"sv" * $"sv" / $"n", lit(0.0)) / ($"n" - 1)).as("std"))
      .filter($"std" > 0)
    ev.join(broadcast(m), "event_type")
      .withColumn("z", abs(($"value" - $"mean") / $"std"))
      .groupBy($"event_type")
      .agg(max($"n").as("n"),
        round(max($"mean"), 6).as("mean_value"),
        round(max($"std"), 6).as("std_value"),
        sum(when($"z" > 3, 1L).otherwise(0L)).as("n_outliers"),
        round(max($"z"), 6).as("worst_z"))
      .orderBy($"event_type")
  }
  private val q84Sql =
    """WITH s AS (SELECT event_type, count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sv,
      |    CAST(sum(CAST(value * value AS DECIMAL(28,10))) AS DOUBLE) AS svv
      |  FROM events GROUP BY 1),
      |m AS (SELECT event_type, n, sv / n AS mean,
      |    sqrt(greatest(svv - sv * sv / n, 0) / (n - 1)) AS std
      |  FROM s WHERE n >= 2)
      |SELECT e.event_type, max(m.n) AS n,
      |  round(max(m.mean), 6) AS mean_value,
      |  round(max(m.std), 6) AS std_value,
      |  CAST(sum(CASE WHEN abs((e.value - m.mean) / m.std) > 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers,
      |  round(max(abs((e.value - m.mean) / m.std)), 6) AS worst_z
      |FROM events e JOIN m ON e.event_type = m.event_type
      |WHERE m.std > 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q89: pairwise correlation matrix from decimal moment sums — ONE pass
    * over the fact table collects every moment (n, Σx, Σx², Σxy for all
    * pairs), then each correlation is pure double arithmetic on the
    * 1-row moment frame. The built-in `corr` streams covariance updates
    * whose merge order varies with partitioning; exact decimal moments
    * make the matrix identical on any cluster layout (and to DuckDB). */
  private def q89(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val li = Tables.lineitem(s, dir)
    // fixed-point hot loop (r11 rewrite, A/B'd 4× faster than the
    // per-row DECIMAL casts — SCALE.md §Round-11 fixed-point rewrite): the
    // 2-dp columns lift to LONG cents exactly, per-row products stay
    // LONG (domain-bounded: ≤1.05e7 cents ⇒ products ≤1.1e14), and only
    // the accumulators are DECIMAL(38,0) — overflow-safe at any row
    // count, unlike a LONG sum which would wrap silently at corpus
    // scale. Moments scale back to the value domain on the 1-row frame.
    val cents = li.select(cols.zipWithIndex.map { case (c, i) =>
      val q = round(col(c) * 100).cast("long")
      // loud guards: 2^31-cent magnitude (a LONG product could pass
      // 2^63, and non-ANSI Spark would wrap silently where DuckDB
      // raises) AND 2-dp exactness (3+-dp inputs would be silently
      // cent-quantized on both engines at once)
      when(abs(q) <= 2147483647L &&
          abs(col(c) * 100 - round(col(c) * 100)) <= 1e-6, q)
        .otherwise(raise_error(
          lit(s"q89: $c is not an in-range 2-dp value — the LONG cents " +
            "lift would overflow or quantize; widen the scale path"))
          .cast("long"))
        .as(s"q$i") }: _*)
    def acc(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(38,0)")).cast("double")
    def s1(i: Int) = acc(col(s"q$i")) / 100.0
    def s2(i: Int, j: Int) = acc(col(s"q$i") * col(s"q$j")) / 10000.0
    val m = cents.agg(
      count(lit(1)).as("n"),
      s1(0).as("s1"), s1(1).as("s2"), s1(2).as("s3"),
      s2(0, 0).as("s11"), s2(1, 1).as("s22"),
      s2(2, 2).as("s33"), s2(0, 1).as("s12"),
      s2(0, 2).as("s13"), s2(1, 2).as("s23"))
    // constant columns make a variance term zero (or a hair negative
    // after decimal->double rounding): clamp with greatest and emit NULL
    // rather than dividing by zero — mirrored exactly in the oracle.
    // The three matrix cells EXPLODE out of the single aggregate row:
    // the former union-of-three-selects shape happened to be saved by
    // ReusedExchange locally (wall-neutral in the bench), but the fused
    // plan guarantees ONE scan+aggregate structurally — no reliance on
    // an optimizer cache hit that a cluster plan change could lose.
    def corrCell(a: String, b: String, sxy: String, sx: String, sy: String,
                 sxx: String, syy: String) = {
      val denom = sqrt(greatest($"n" * col(sxx) - col(sx) * col(sx), lit(0.0))) *
        sqrt(greatest($"n" * col(syy) - col(sy) * col(sy), lit(0.0)))
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        when(denom > 0, round(($"n" * col(sxy) - col(sx) * col(sy)) / denom, 6))
          .as("corr"))
    }
    m.select(explode(array(
        corrCell(cols(0), cols(1), "s12", "s1", "s2", "s11", "s22"),
        corrCell(cols(0), cols(2), "s13", "s1", "s3", "s11", "s33"),
        corrCell(cols(1), cols(2), "s23", "s2", "s3", "s22", "s33"))).as("r"))
      .select($"r.col_a", $"r.col_b", $"r.corr")
      .orderBy($"col_a", $"col_b")
  }
  private val q89Sql =
    """WITH c AS (SELECT CAST(round(l_quantity * 100) AS BIGINT) AS q0,
      |  CAST(round(l_extendedprice * 100) AS BIGINT) AS q1,
      |  CAST(round(l_discount * 100) AS BIGINT) AS q2 FROM lineitem),
      |m AS (SELECT count(*) AS n,
      |  CAST(sum(CAST(q0 AS HUGEINT)) AS DOUBLE) / 100.0 AS s1,
      |  CAST(sum(CAST(q1 AS HUGEINT)) AS DOUBLE) / 100.0 AS s2,
      |  CAST(sum(CAST(q2 AS HUGEINT)) AS DOUBLE) / 100.0 AS s3,
      |  CAST(sum(CAST(q0 AS HUGEINT) * q0) AS DOUBLE) / 10000.0 AS s11,
      |  CAST(sum(CAST(q1 AS HUGEINT) * q1) AS DOUBLE) / 10000.0 AS s22,
      |  CAST(sum(CAST(q2 AS HUGEINT) * q2) AS DOUBLE) / 10000.0 AS s33,
      |  CAST(sum(CAST(q0 AS HUGEINT) * q1) AS DOUBLE) / 10000.0 AS s12,
      |  CAST(sum(CAST(q0 AS HUGEINT) * q2) AS DOUBLE) / 10000.0 AS s13,
      |  CAST(sum(CAST(q1 AS HUGEINT) * q2) AS DOUBLE) / 10000.0 AS s23
      |  FROM c)
      |SELECT * FROM (
      |  SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
      |    CASE WHEN sqrt(greatest(n*s11 - s1*s1, 0)) * sqrt(greatest(n*s22 - s2*s2, 0)) > 0
      |      THEN round((n*s12 - s1*s2) / (sqrt(greatest(n*s11 - s1*s1, 0)) * sqrt(greatest(n*s22 - s2*s2, 0))), 6) END AS corr FROM m
      |  UNION ALL SELECT 'l_quantity', 'l_discount',
      |    CASE WHEN sqrt(greatest(n*s11 - s1*s1, 0)) * sqrt(greatest(n*s33 - s3*s3, 0)) > 0
      |      THEN round((n*s13 - s1*s3) / (sqrt(greatest(n*s11 - s1*s1, 0)) * sqrt(greatest(n*s33 - s3*s3, 0))), 6) END FROM m
      |  UNION ALL SELECT 'l_extendedprice', 'l_discount',
      |    CASE WHEN sqrt(greatest(n*s22 - s2*s2, 0)) * sqrt(greatest(n*s33 - s3*s3, 0)) > 0
      |      THEN round((n*s23 - s2*s3) / (sqrt(greatest(n*s22 - s2*s2, 0)) * sqrt(greatest(n*s33 - s3*s3, 0))), 6) END FROM m)
      |ORDER BY col_a, col_b""".stripMargin

  /** q90: INCREMENTAL connected components, hash-gated — the q67 pair
    * graph split deterministically into an "initial corpus" (hash bucket
    * 0–6 of the pair) and an "arriving batch" (bucket 7–9); the initial
    * labeling merges with the batch via
    * [[graft.dedup.Dedup.incrementalComponents]]. The split is INTERNAL:
    * the oracle computes plain components over the full pair set, so the
    * gate proves state + batch maintenance converges to exactly the
    * from-scratch answer — the property that lets a daily dedup pipeline
    * never recompute history. */
  private def q90(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // lazy-checkpoint the mined pair list: both the initial-state CC and
    // the batch merge consume it, and without the pin each branch re-runs
    // the whole minhash band-join candidate pipeline
    val pairs = TextDedupQueries.minhashBandPairs(s, dir, minBands = 2)
      .select($"doc_a", $"doc_b",
        pmod(xxhash64($"doc_a", $"doc_b"), lit(10L)).as("bucket"))
      .localCheckpoint(false)
    val initial = pairs.filter($"bucket" < 7).drop("bucket")
    val batch = pairs.filter($"bucket" >= 7).drop("bucket")
    val state = graft.dedup.Dedup.connectedComponents(initial, "doc_a", "doc_b")
    graft.dedup.Dedup.incrementalComponents(state, batch, "doc_a", "doc_b")
      .select($"__id".as("doc_id"), $"__lbl".as("component_root"))
      .orderBy($"doc_id")
  }
  private val q90Sql =
    s"""${TextDedupQueries.shinglesSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
      |${TextDedupQueries.minhashPairsSqlCtes},
      |edges AS (SELECT doc_a AS s, doc_b AS d FROM pr
      |  UNION SELECT doc_b, doc_a FROM pr),
      |reach AS (
      |  SELECT s AS id, s AS r FROM edges
      |  UNION
      |  SELECT reach.id, edges.d FROM reach JOIN edges ON reach.r = edges.s
      |)
      |SELECT id AS doc_id, min(r) AS component_root
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** q304: incremental aggregate maintenance WITH RETRACTIONS — q82
    * handles insert-only micro-batches; this is the other half of the
    * changelog algebra (Flink-style retract streams, Delta MERGE-driven
    * MVs): a stored per-(user, event_type) count/sum view absorbs a mixed
    * changelog (deletes = every 13th user's base rows, inserts = every
    * 7th event) as SIGNED deltas — one weighted aggregate, one full-outer
    * merge with the stored state, and the defining retraction semantic:
    * a group whose maintained count reaches ZERO disappears from the view
    * (the filter the insert-only path never needs). The oracle computes
    * the same view by FULL RECOMPUTE over (base ∖ deletes) ∪ inserts, so
    * the hash match proves the maintenance algebra ≡ recomputation —
    * the IVM correctness statement itself.
    *
    * Only the self-maintainable aggregates (count, sum, and avg derived
    * at read) are maintained: min/max are deliberately absent — they are
    * not retractable without per-group auxiliary state (a heap or a
    * recompute), which is exactly why production IVMs classify them
    * separately. Cents are exact LONG; avg is integer division on
    * non-negative sums (truncation = floor, engine-identical).
    *
    * Scale shape: two grouped aggregates + one full-outer equi-join on
    * the group key — every step shuffles on the key the view is stored
    * by; the changelog side is |delta|-sized, never |view|-sized. */
  private def q304(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"event_id", $"user_id",
      $"event_type", round($"value" * 100).cast("long").as("cents"))
    val base = ev.filter($"event_id" % 7 =!= 0)
    val deletes = base.filter($"user_id" % 13 === 0)
    val inserts = ev.filter($"event_id" % 7 === 0)
    val mv = base.groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sc"))
    val delta = deletes.select($"user_id", $"event_type",
        lit(-1L).as("w"), $"cents")
      .unionAll(inserts.select($"user_id", $"event_type",
        lit(1L).as("w"), $"cents"))
      .groupBy($"user_id", $"event_type")
      .agg(sum($"w").as("dn"), sum($"w" * $"cents").as("ds"))
    mv.join(delta, Seq("user_id", "event_type"), "full_outer")
      .select($"user_id", $"event_type",
        (coalesce($"n", lit(0L)) + coalesce($"dn", lit(0L))).as("n_events"),
        (coalesce($"sc", lit(0L)) + coalesce($"ds", lit(0L))).as("sum_cents"))
      .filter($"n_events" > 0)
      .withColumn("avg_cents", expr("sum_cents div n_events"))
      .orderBy($"user_id", $"event_type")
  }
  private val q304Sql =
    """WITH ev AS (SELECT event_id, user_id, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |kept AS (
      |  SELECT * FROM ev WHERE event_id % 7 <> 0 AND user_id % 13 <> 0
      |  UNION ALL
      |  SELECT * FROM ev WHERE event_id % 7 = 0)
      |SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents,
      |  CAST(sum(cents) AS BIGINT) // count(*) AS avg_cents
      |FROM kept GROUP BY 1, 2
      |ORDER BY user_id, event_type""".stripMargin

  override def queries: Seq[QueryDef] = Seq(
    QueryDef("q82_incremental_agg", q82, Some(q82Sql)),
    QueryDef("q304_retraction_view", q304, Some(q304Sql)),
    QueryDef("q214_delta_join_view", q214, Some(q214Sql)),
    QueryDef("q83_triangle_count", q83, Some(q83Sql)),
    QueryDef("q84_outlier_zscore", q84, Some(q84Sql)),
    QueryDef("q89_correlation_matrix", q89, Some(q89Sql)),
    QueryDef("q90_incremental_components", q90, Some(q90Sql)),
  )
}
