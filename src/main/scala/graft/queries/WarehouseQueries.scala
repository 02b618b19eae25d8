package graft.queries

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Warehouse-side analytics the reference's medallion pipeline implies but
  * never writes out: slowly-changing-dimension history (the canonical gold
  * dimension build), time-windowed funnel conversion, cohort retention, and
  * an explicitly salted skew join.
  *
  * Scale notes (100 TB posture):
  *   - q74 is one shuffle on `user_id` feeding two same-keyed windows (the
  *     second window reuses the first's partitioning AND ordering — the
  *     filter between them preserves sort order, so only one exchange+sort
  *     pair appears in the plan).
  *   - q75's per-stage joins are equi-joins on `user_id`; each stage's
  *     aggregate shrinks the key set, so later joins get smaller, and AQE
  *     can broadcast the survivor sets at runtime.
  *   - q76 is a self-join on `user_id` (first-event table is one row per
  *     user — always the small side) plus one count-distinct shuffle.
  *   - q77 splits every dimension key across 8 salt buckets BEFORE the
  *     shuffle: a key that holds 10% of a 100 TB fact table becomes 8
  *     tasks instead of one straggler. The dim side replicates 8x (cheap:
  *     dims are small by definition); results are provably identical to
  *     the unsalted join — which is exactly what the oracle checks.
  *
  * Timestamps: `events.ts` is nanosecond-precision parquet, read as an
  * epoch-ns long (`nanosAsLong`). Outputs carry epoch MICROSECONDS
  * (`div 1000`): epoch-us values (~1.7e15) are exactly representable in a
  * float64, so a nullable column surviving pandas' int→float widening on
  * the driver hashes identically from both engines, while epoch-ns
  * (~1.7e18) would round differently per engine.
  */
object WarehouseQueries extends QueryModule {

  /** q74: SCD2 dimension history — collapse each user's event-type stream
    * into validity intervals [valid_from, valid_to) with an is_current
    * flag. Change points via LAG, interval ends via LEAD over the change
    * points only (classic two-window SCD2 build, no self-join). */
  private def q74(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev", lag($"event_type", 1).over(w))
      .filter($"prev".isNull || $"prev" =!= $"event_type")
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to_us", expr("lead(ts, 1) over " +
        "(partition by user_id order by ts, event_id) div 1000"))
      .select($"user_id", $"version", $"event_type",
        expr("ts div 1000").as("valid_from_us"), $"valid_to_us",
        $"valid_to_us".isNull.as("is_current"))
      .orderBy($"user_id", $"version")
  }
  private val q74Sql =
    """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS tsn, event_type FROM events),
      |c AS (SELECT *, LAG(event_type) OVER
      |    (PARTITION BY user_id ORDER BY tsn, event_id) AS prev FROM e),
      |k AS (SELECT user_id, tsn, event_id, event_type FROM c
      |  WHERE prev IS NULL OR prev <> event_type),
      |v AS (SELECT user_id, event_type, tsn // 1000 AS valid_from_us,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS BIGINT) AS version,
      |    LEAD(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id) // 1000 AS valid_to_us
      |  FROM k)
      |SELECT user_id, version, event_type, valid_from_us, valid_to_us,
      |  valid_to_us IS NULL AS is_current
      |FROM v ORDER BY user_id, version""".stripMargin

  /** q216: point-in-time-correct feature join — each purchase fact is
    * attributed the dimension version in effect AT ITS EVENT TIME: the
    * `k` attribute of the user's latest signup with (ts, event_id) at or
    * before the purchase's, plus that signup's ordinal (the version a
    * feature store would log). This is THE anti-leakage join of training
    * pipelines: joining the CURRENT dimension row backfills future
    * attribute values into past facts. Engine shape is the union-LOCF
    * kernel (q99/q188): dimension and fact streams union, ONE window
    * pass per user carries `last(k, ignoreNulls)` and a running signup
    * count — no join at all, so there is no per-fact probe against the
    * version table and nothing skews on hot users beyond the window
    * sort. Purchases before any signup keep NULL (outer semantics,
    * pinned by the gate). The oracle takes the textbook other route — a
    * LATERAL top-1 probe of the version table per fact — so the hash
    * compare proves kernel == correlated-join semantics, ties included. */
  private def q216(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    // The LOCF carrier is the WHOLE signup struct, not the bare k: a
    // signup with NULL props.k must still bump the version count and must
    // overwrite an older non-null k (the oracle's LATERAL top-1 returns
    // the latest signup's possibly-NULL k). Carrying last(k, ignoreNulls)
    // directly would skip null-k signups — parity would then rest on an
    // unstated "k is never null" corpus invariant.
    val dim = ev.filter($"event_type" === "signup")
      .select($"user_id", $"ts", $"event_id",
        struct(get_json_object($"props", "$.k").cast("long").as("k")).as("sig"),
        lit(null).cast("double").as("value"))
    val fact = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id",
        lit(null).cast("struct<k:bigint>").as("sig"), $"value")
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dim.unionByName(fact)
      .withColumn("plan_k", last($"sig", ignoreNulls = true).over(w)("k"))
      .withColumn("plan_version", count($"sig").over(w))
      .filter($"value".isNotNull)                      // keep fact rows
      .select($"event_id", $"user_id", expr("ts div 1000").as("ts_us"),
        $"value", $"plan_k",
        when($"plan_version" > 0, $"plan_version").as("plan_version"))
      .orderBy($"event_id")
  }
  private val q216Sql =
    """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS tsn, event_type,
      |    value, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events),
      |s AS (SELECT user_id, tsn, event_id, k,
      |    CAST(row_number() OVER (PARTITION BY user_id
      |      ORDER BY tsn, event_id) AS BIGINT) AS version
      |  FROM e WHERE event_type = 'signup'),
      |p AS (SELECT event_id, user_id, tsn, value FROM e
      |  WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, p.tsn // 1000 AS ts_us, p.value,
      |  v.k AS plan_k, v.version AS plan_version
      |FROM p LEFT JOIN LATERAL (
      |  SELECT s.k, s.version FROM s
      |  WHERE s.user_id = p.user_id
      |    AND (s.tsn < p.tsn OR (s.tsn = p.tsn AND s.event_id <= p.event_id))
      |  ORDER BY s.tsn DESC, s.event_id DESC LIMIT 1) v ON true
      |ORDER BY p.event_id""".stripMargin

  /** q224: CDC changelog apply with DELETE tombstones — materialize the
    * final row state from an ordered I/U/D op stream (the Delta-CDF /
    * Debezium apply step). The semantics the gate pins: a tombstone
    * WIPES — per-column values from before the last D must never leak
    * into a row re-inserted afterwards (the classic CDC-apply bug that
    * per-column LOCF over the whole history commits); a user whose LAST
    * op is D has no row at all; partial updates touch only their column
    * (signups carry `plan`, purchases/clicks carry `amount`), so a
    * re-inserted row can legitimately have NULL amount. Op order is
    * event_id (monotone with ts in this corpus). One window pass finds
    * each user's last tombstone, one filtered grouped aggregate builds
    * the surviving rows — no joins, combinable aggregates. */
  private def q224(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ops = Tables.events(s, dir)
      .select($"user_id", $"event_id",
        when($"event_type" === "error", "D")
          .when($"event_type" === "signup", "I")
          .when($"event_type".isin("purchase", "click"), "U").as("op"),
        get_json_object($"props", "$.k").cast("long").as("k"), $"value")
      .where($"op".isNotNull)
    val w = Window.partitionBy($"user_id")
    ops
      .withColumn("last_d", max(when($"op" === "D", $"event_id")).over(w))
      .where($"event_id" > coalesce($"last_d", lit(-1L)))
      .groupBy($"user_id")
      .agg(
        max(when($"op" === "I", struct($"event_id", $"k"))).as("pi"),
        max(when($"op" === "U", struct($"event_id", $"value"))).as("pu"),
        count(lit(1)).as("n_live_ops"))
      .select($"user_id", $"pi.k".as("plan"),
        round($"pu.value", 2).as("amount"), $"n_live_ops")
      .orderBy($"user_id")
  }
  private val q224Sql =
    """WITH ops AS (SELECT user_id, event_id,
      |    CASE WHEN event_type = 'error' THEN 'D'
      |         WHEN event_type = 'signup' THEN 'I'
      |         WHEN event_type IN ('purchase', 'click') THEN 'U' END AS op,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, value
      |  FROM events
      |  WHERE event_type IN ('error', 'signup', 'purchase', 'click')),
      |d AS (SELECT *, max(CASE WHEN op = 'D' THEN event_id END)
      |    OVER (PARTITION BY user_id) AS last_d FROM ops),
      |live AS (SELECT * FROM d WHERE event_id > coalesce(last_d, -1))
      |SELECT user_id,
      |  arg_max(CASE WHEN op = 'I' THEN k END,
      |    CASE WHEN op = 'I' THEN event_id END) AS plan,
      |  round(arg_max(CASE WHEN op = 'U' THEN value END,
      |    CASE WHEN op = 'U' THEN event_id END), 2) AS amount,
      |  count(*) AS n_live_ops
      |FROM live GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q228: growth accounting — the DAU ledger every product team keeps:
    * per day, actives decompose EXACTLY into new (first-ever day) +
    * retained (also active the previous day) + resurrected (returning
    * after a gap), and churned(d) counts users active on d−1 but not d
    * (so actives(d−1) = retained(d) + churned(d) — both identities are
    * conservation laws the gate hash-pins). Trailing churn at the
    * corpus horizon is counted on last_active+1 by convention (a user's
    * final day always emits one churn). Shape: one distinct to
    * (user, day) grain, one per-user window for prev/next day, then two
    * day-grain aggregates full-outer-merged — no day spine table, days
    * materialize from the data. */
  private def q228(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val ud = Tables.events(s, dir)
      .select($"user_id", expr("ts div 86400000000000").as("day"))
      .distinct()
      .withColumn("prev_day", lag($"day", 1).over(w))
      .withColumn("next_day", lead($"day", 1).over(w))
    val act = ud.groupBy($"day").agg(
      count(lit(1)).as("n_active"),
      sum(when($"prev_day".isNull, 1L).otherwise(0L)).as("n_new"),
      sum(when($"prev_day" === $"day" - 1, 1L).otherwise(0L)).as("n_retained"),
      sum(when($"prev_day".isNotNull && $"prev_day" < $"day" - 1, 1L)
        .otherwise(0L)).as("n_resurrected"))
    val churn = ud
      .where($"next_day".isNull || $"next_day" > $"day" + 1)
      .groupBy(($"day" + 1).as("day"))
      .agg(count(lit(1)).as("n_churned"))
    act.join(churn, Seq("day"), "full_outer")
      .select($"day",
        coalesce($"n_active", lit(0L)).as("n_active"),
        coalesce($"n_new", lit(0L)).as("n_new"),
        coalesce($"n_retained", lit(0L)).as("n_retained"),
        coalesce($"n_resurrected", lit(0L)).as("n_resurrected"),
        coalesce($"n_churned", lit(0L)).as("n_churned"))
      .orderBy($"day")
  }
  private val q228Sql =
    """WITH ud AS (SELECT DISTINCT user_id,
      |    epoch_ns(ts) // 86400000000000 AS day FROM events),
      |n AS (SELECT *,
      |    lag(day) OVER w AS prev_day, lead(day) OVER w AS next_day
      |  FROM ud WINDOW w AS (PARTITION BY user_id ORDER BY day)),
      |act AS (SELECT day, CAST(count(*) AS BIGINT) AS n_active,
      |    CAST(sum(CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_new,
      |    CAST(sum(CASE WHEN prev_day = day - 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_retained,
      |    CAST(sum(CASE WHEN prev_day < day - 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_resurrected
      |  FROM n GROUP BY day),
      |ch AS (SELECT day + 1 AS day, CAST(count(*) AS BIGINT) AS n_churned
      |  FROM n WHERE next_day IS NULL OR next_day > day + 1 GROUP BY day + 1)
      |SELECT coalesce(act.day, ch.day) AS day,
      |  coalesce(n_active, 0) AS n_active, coalesce(n_new, 0) AS n_new,
      |  coalesce(n_retained, 0) AS n_retained,
      |  coalesce(n_resurrected, 0) AS n_resurrected,
      |  coalesce(n_churned, 0) AS n_churned
      |FROM act FULL OUTER JOIN ch ON act.day = ch.day
      |ORDER BY day""".stripMargin

  /** q231: SLA attainment — order-to-ship latency per order priority:
    * line count, exact mean latency days (LONG day sum, one division),
    * and the fraction shipped within 30/60/90 days — the fulfillment
    * scorecard (TPC-H Q4's shape inverted: attainment rates, not late
    * counts). Latency is whole days on the date lattice (both engines
    * datediff on DATE-cast timestamps); the fact table joins the orders
    * dim once on the order key and everything after is one combinable
    * grouped aggregate. */
  private def q231(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_shipdate")
    val ord = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .withColumn("lat",
        datediff(to_date($"l_shipdate"), to_date($"o_orderdate")).cast("long"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        round(sum($"lat").cast("double") / count(lit(1)), 6).as("mean_latency_days"),
        round(sum(when($"lat" <= 30, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("within_30d"),
        round(sum(when($"lat" <= 60, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("within_60d"),
        round(sum(when($"lat" <= 90, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("within_90d"))
      .orderBy($"o_orderpriority")
  }
  private val q231Sql =
    """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
      |  round(CAST(sum(datediff('day', CAST(o.o_orderdate AS DATE),
      |      CAST(l.l_shipdate AS DATE))) AS DOUBLE) / count(*), 6)
      |    AS mean_latency_days,
      |  round(CAST(sum(CASE WHEN datediff('day', CAST(o.o_orderdate AS DATE),
      |      CAST(l.l_shipdate AS DATE)) <= 30 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 6) AS within_30d,
      |  round(CAST(sum(CASE WHEN datediff('day', CAST(o.o_orderdate AS DATE),
      |      CAST(l.l_shipdate AS DATE)) <= 60 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 6) AS within_60d,
      |  round(CAST(sum(CASE WHEN datediff('day', CAST(o.o_orderdate AS DATE),
      |      CAST(l.l_shipdate AS DATE)) <= 90 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*), 6) AS within_90d
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin

  /** q75: time-windowed funnel — view, then click within 2 h of the first
    * view, then purchase within 2 h of that click. Each stage is a filtered
    * aggregate joined to the previous stage's survivors; the conversion
    * window is what makes the funnel selective (an unbounded funnel over a
    * month of dense events converts everyone). */
  private def q75(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val windowNs = 2L * 3600 * 1000 * 1000 * 1000 // 2 h in ns
    val ev = Tables.events(s, dir).select($"user_id", $"ts", $"event_type")
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t1"))
    val c = ev.filter($"event_type" === "click").join(v, "user_id")
      .filter($"ts" > $"t1" && $"ts" <= $"t1" + windowNs)
      .groupBy($"user_id").agg(min($"ts").as("t2"))
    val p = ev.filter($"event_type" === "purchase").join(c, "user_id")
      .filter($"ts" > $"t2" && $"ts" <= $"t2" + windowNs)
      .groupBy($"user_id").agg(min($"ts").as("t3"))
    def stage(i: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("users"))
        .select(lit(i).as("stage_idx"), lit(name).as("stage"), $"users")
    stage(1, "view", v)
      .union(stage(2, "view>click_2h", c))
      .union(stage(3, "view>click>purchase_2h", p))
      .orderBy($"stage_idx")
  }
  private val q75Sql =
    """WITH v AS (SELECT user_id, min(epoch_ns(ts)) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t2 FROM events e
      |  JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) > v.t1
      |    AND epoch_ns(e.ts) <= v.t1 + 7200000000000 GROUP BY 1),
      |p AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t3 FROM events e
      |  JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > c.t2
      |    AND epoch_ns(e.ts) <= c.t2 + 7200000000000 GROUP BY 1)
      |SELECT * FROM (VALUES
      |  (1, 'view', CAST((SELECT count(*) FROM v) AS BIGINT)),
      |  (2, 'view>click_2h', CAST((SELECT count(*) FROM c) AS BIGINT)),
      |  (3, 'view>click>purchase_2h', CAST((SELECT count(*) FROM p) AS BIGINT)))
      |  AS t(stage_idx, stage, users)
      |ORDER BY stage_idx""".stripMargin

  /** q76: cohort retention — users bucketed by first-event day, activity
    * counted per day offset from that cohort day. Integer division on the
    * epoch-ns longs (`div`): exact on both engines, no float rounding at
    * day boundaries. */
  private def q76(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"user_id", $"ts")
    val first = ev.groupBy($"user_id").agg(min($"ts").as("first_ts"))
    ev.join(first, "user_id")
      .select($"user_id",
        expr("first_ts div 86400000000000").as("cohort_day"),
        expr("(ts - first_ts) div 86400000000000").as("day_offset"))
      .groupBy($"cohort_day", $"day_offset")
      .agg(countDistinct($"user_id").as("active_users"))
      .orderBy($"cohort_day", $"day_offset")
  }
  private val q76Sql =
    """WITH e AS (SELECT user_id, epoch_ns(ts) AS tsn FROM events),
      |f AS (SELECT user_id, min(tsn) AS first_ts FROM e GROUP BY 1)
      |SELECT f.first_ts // 86400000000000 AS cohort_day,
      |  (e.tsn - f.first_ts) // 86400000000000 AS day_offset,
      |  count(DISTINCT e.user_id) AS active_users
      |FROM e JOIN f ON e.user_id = f.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q290: cohort LTV curve — q76 counts who CAME BACK; this accumulates
    * what each signup cohort has SPENT by day-offset (the cumulative
    * revenue-per-cohort-age curve a growth team reads payback periods
    * off). Purchase cents aggregate per (cohort_day, day_offset) —
    * exact longs — then the cumulative curve is a per-cohort running
    * sum over the calendar-bounded offset frame plus an exact
    * per-user-count division (cents-per-user, integer div). Shuffle
    * profile: one groupBy user (first ts), one join back, one grouped
    * sum, one bounded window per cohort. */
  private def q290(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_type", $"value")
    val first = ev.groupBy($"user_id").agg(min($"ts").as("first_ts"))
    val sized = first
      .select(expr("first_ts div 86400000000000").as("cohort_day"), $"user_id")
      .groupBy($"cohort_day").agg(countDistinct($"user_id").as("cohort_users"))
    val rev = ev.filter($"event_type" === "purchase")
      .join(first, "user_id")
      .select(expr("first_ts div 86400000000000").as("cohort_day"),
        expr("(ts - first_ts) div 86400000000000").as("day_offset"),
        round($"value" * 100).cast("long").as("cents"))
      .groupBy($"cohort_day", $"day_offset")
      .agg(sum($"cents").as("cents"))
    val w = Window.partitionBy($"cohort_day").orderBy($"day_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.withColumn("cum_cents", sum($"cents").over(w))
      .join(sized, "cohort_day")
      .select($"cohort_day", $"day_offset", $"cum_cents",
        expr("cum_cents div cohort_users").as("ltv_cents_per_user"))
      .orderBy($"cohort_day", $"day_offset")
  }
  private val q290Sql =
    """WITH e AS (SELECT user_id, epoch_ns(ts) AS tsn, event_type, value
      |  FROM events),
      |f AS (SELECT user_id, min(tsn) AS first_ts FROM e GROUP BY 1),
      |sized AS (SELECT first_ts // 86400000000000 AS cohort_day,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS cohort_users
      |  FROM f GROUP BY 1),
      |rev AS (SELECT f.first_ts // 86400000000000 AS cohort_day,
      |    (e.tsn - f.first_ts) // 86400000000000 AS day_offset,
      |    CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM e JOIN f ON e.user_id = f.user_id
      |  WHERE e.event_type = 'purchase'
      |  GROUP BY 1, 2),
      |c AS (SELECT cohort_day, day_offset, cents,
      |    CAST(sum(cents) OVER (PARTITION BY cohort_day ORDER BY day_offset
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
      |  FROM rev)
      |SELECT c.cohort_day, c.day_offset, c.cum_cents,
      |  c.cum_cents // s.cohort_users AS ltv_cents_per_user
      |FROM c JOIN sized s USING (cohort_day)
      |ORDER BY c.cohort_day, c.day_offset""".stripMargin

  /** q77: salted skew join — fact rows salt by hash(event_id) mod 8, the
    * dimension replicates across all 8 salts, and the join runs on
    * (user_id, salt) so one hot user fans across 8 tasks instead of one
    * straggler. The shuffle_hash hint keeps the exchange (a broadcast
    * would bypass the pattern under test); the oracle is the UNSALTED
    * join — proving the decomposition changes the plan, not the answer.
    * The DECIMAL-sum/round pattern keeps the double aggregate
    * order-independent across partitionings (q72's trick). */
  private def q77(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val salts = 8
    val dim = Tables.customer(s, dir)
      .filter($"c_custkey" <= 150)
      .select($"c_custkey".as("user_id"), $"c_mktsegment".as("segment"))
      .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
    val fact = Tables.events(s, dir)
      .select($"user_id", $"event_id", $"value")
      .withColumn("salt", pmod(xxhash64($"event_id"), lit(salts.toLong)).cast("int"))
    fact.join(dim.hint("shuffle_hash"), Seq("user_id", "salt"))
      .groupBy($"segment")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value".cast("decimal(18,6)")).cast("double"), 6).as("total_value"))
      .orderBy($"segment")
  }
  private val q77Sql =
    """SELECT c.c_mktsegment AS segment, count(*) AS n_events,
      |  round(CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |WHERE c.c_custkey <= 150
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** 2024-01-21 00:00 UTC in epoch ns — the snapshot boundary: "old" is
    * the latest-per-user state as of this instant, "new" is current. */
  private val diffCutoffNs = 1705795200000000000L

  /** q96: snapshot diff (CDC) — the row-level change feed between two
    * versions of the latest-event-per-user dimension, computed by
    * [[graft.pipeline.TableDiff]]: one full outer join on the key, change
    * classification added/removed/changed, unchanged rows dropped. The
    * append-only source means 'removed' cannot occur here (the spec
    * exercises it on real [[graft.pipeline.Catalog]] versions);
    * the oracle replays the same two-snapshot diff in SQL. */
  private def q96(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"user_id", $"event_id", $"ts")
    def latest(df: DataFrame): DataFrame = {
      val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      df.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"user_id", $"event_id")
    }
    graft.pipeline.TableDiff.diff(
        latest(ev.filter($"ts" < diffCutoffNs)), latest(ev),
        keyCols = Seq("user_id"), compareCols = Seq("event_id"))
      .orderBy($"user_id")
  }
  private val q96Sql =
    s"""WITH o AS (SELECT user_id, event_id FROM (
       |    SELECT user_id, event_id,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events WHERE epoch_ns(ts) < $diffCutoffNs) WHERE rn = 1),
       |n AS (SELECT user_id, event_id FROM (
       |    SELECT user_id, event_id,
       |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events) WHERE rn = 1),
       |d AS (SELECT coalesce(o.user_id, n.user_id) AS user_id,
       |    o.event_id AS old_event_id, n.event_id AS new_event_id,
       |    CASE WHEN o.user_id IS NULL THEN 'added'
       |         WHEN n.user_id IS NULL THEN 'removed'
       |         WHEN o.event_id IS DISTINCT FROM n.event_id THEN 'changed'
       |    END AS change_type
       |  FROM o FULL OUTER JOIN n ON o.user_id = n.user_id)
       |SELECT * FROM d WHERE change_type IS NOT NULL ORDER BY user_id""".stripMargin

  /** q104: gaps-and-islands — each user's runs of CONSECUTIVE active days,
    * via the classic anchor trick: with days deduped and row-numbered per
    * user, `day − row_number` is constant exactly within a consecutive
    * run, so one groupBy on (user, anchor) labels every island without a
    * self-join or iteration. Day numbers are pure integer arithmetic on
    * the epoch-nanos `ts`, so both engines bucket identically. One
    * distinct + one window + two aggregates, all keyed on `user_id` —
    * Catalyst reuses the single hash partitioning end to end. */
  private def q104(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val days = Tables.events(s, dir)
      .select($"user_id", expr("ts div 86400000000000").as("dayn"))
      .distinct()
    val rn = Window.partitionBy($"user_id").orderBy($"dayn")
    days
      .withColumn("anchor", $"dayn" - row_number().over(rn))
      .groupBy($"user_id", $"anchor")
      .agg(count(lit(1)).as("len"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_streaks"),
        max($"len").as("max_streak"),
        sum($"len").cast("long").as("active_days"))
      .orderBy($"user_id")
  }
  private val q104Sql =
    """WITH d AS (SELECT DISTINCT user_id,
      |    epoch_ns(ts) // 86400000000000 AS dayn FROM events),
      |r AS (SELECT user_id, dayn,
      |    row_number() OVER (PARTITION BY user_id ORDER BY dayn) AS rn FROM d),
      |g AS (SELECT user_id, dayn - rn AS anchor, count(*) AS len
      |  FROM r GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_streaks, max(len) AS max_streak,
      |  CAST(sum(len) AS BIGINT) AS active_days
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  /** q192: price–volume bridge — the variance decomposition ("revenue
    * bridge" / "waterfall") every finance review runs: year-over-year
    * revenue change per brand split into price effect q0·(p1−p0), volume
    * effect p0·(q1−q0), their cross term, plus new- and lost-part
    * revenue. One conditional-sum pass over the two-year lineitem slice
    * builds per-part (q0,c0,q1,c1) cells — no self-join, no full outer
    * join: absence is q=0 in the same row. Unit prices are the only
    * divisions (exact LONG cents / LONG qty, IEEE-identical per part in
    * both engines, evaluated lazily so unmatched parts never divide by
    * zero); each per-part term is rounded to 4 dp and summed as DECIMAL,
    * making the brand rollup order-free and partitioning-invariant. The
    * part dimension joins as a broadcast. */
  private def q192(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .filter(year($"l_shipdate").isin(1997, 1998))
      .select($"l_partkey",
        (year($"l_shipdate") === 1997).as("is0"),
        $"l_quantity".cast("long").as("q"),
        round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100)
          .cast("long").as("c"))
    val perPart = li.groupBy($"l_partkey")
      .agg(sum(when($"is0", $"q").otherwise(0L)).as("q0"),
        sum(when($"is0", $"c").otherwise(0L)).as("c0"),
        sum(when(!$"is0", $"q").otherwise(0L)).as("q1"),
        sum(when(!$"is0", $"c").otherwise(0L)).as("c1"))
      .join(broadcast(Tables.part(s, dir).select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
    val matched = $"q0" > 0L && $"q1" > 0L
    val p0 = $"c0".cast("double") / $"q0"
    val p1 = $"c1".cast("double") / $"q1"
    def term(x: org.apache.spark.sql.Column) =
      when(matched, round(x, 4)).otherwise(0.0).cast("decimal(28,4)")
    perPart
      .select($"p_brand", $"c0", $"c1",
        term($"q0" * (p1 - p0)).as("pt"),
        term(p0 * ($"q1" - $"q0")).as("vt"),
        term(($"q1" - $"q0") * (p1 - p0)).as("xt"),
        when($"q0" === 0L, $"c1").otherwise(0L).as("nr"),
        when($"q1" === 0L, $"c0").otherwise(0L).as("lr"))
      .groupBy($"p_brand")
      .agg(
        round((sum($"c1") - sum($"c0")) / 100.0, 2).as("delta_rev"),
        round(sum($"pt").cast("double") / 100.0, 2).as("price_effect"),
        round(sum($"vt").cast("double") / 100.0, 2).as("volume_effect"),
        round(sum($"xt").cast("double") / 100.0, 2).as("cross_effect"),
        round(sum($"nr") / 100.0, 2).as("new_rev"),
        round(sum($"lr") / 100.0, 2).as("lost_rev"))
      .orderBy($"p_brand")
  }
  private val q192Sql =
    """WITH li AS (
      |  SELECT l_partkey, year(l_shipdate) = 1997 AS is0,
      |    CAST(l_quantity AS BIGINT) AS q,
      |    CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT) AS c
      |  FROM lineitem WHERE year(l_shipdate) IN (1997, 1998)),
      |pp AS (
      |  SELECT l_partkey,
      |    CAST(sum(CASE WHEN is0 THEN q ELSE 0 END) AS BIGINT) AS q0,
      |    CAST(sum(CASE WHEN is0 THEN c ELSE 0 END) AS BIGINT) AS c0,
      |    CAST(sum(CASE WHEN NOT is0 THEN q ELSE 0 END) AS BIGINT) AS q1,
      |    CAST(sum(CASE WHEN NOT is0 THEN c ELSE 0 END) AS BIGINT) AS c1
      |  FROM li GROUP BY 1),
      |t AS (
      |  SELECT p.p_brand, pp.c0, pp.c1,
      |    CAST(CASE WHEN q0 > 0 AND q1 > 0 THEN round(
      |      q0 * (CAST(c1 AS DOUBLE) / q1 - CAST(c0 AS DOUBLE) / q0), 4)
      |      ELSE 0.0 END AS DECIMAL(28,4)) AS pt,
      |    CAST(CASE WHEN q0 > 0 AND q1 > 0 THEN round(
      |      (CAST(c0 AS DOUBLE) / q0) * (q1 - q0), 4)
      |      ELSE 0.0 END AS DECIMAL(28,4)) AS vt,
      |    CAST(CASE WHEN q0 > 0 AND q1 > 0 THEN round(
      |      (q1 - q0) * (CAST(c1 AS DOUBLE) / q1 - CAST(c0 AS DOUBLE) / q0), 4)
      |      ELSE 0.0 END AS DECIMAL(28,4)) AS xt,
      |    CASE WHEN q0 = 0 THEN c1 ELSE 0 END AS nr,
      |    CASE WHEN q1 = 0 THEN c0 ELSE 0 END AS lr
      |  FROM pp JOIN part p ON pp.l_partkey = p.p_partkey)
      |SELECT p_brand,
      |  round((sum(c1) - sum(c0)) / 100.0, 2) AS delta_rev,
      |  round(CAST(sum(pt) AS DOUBLE) / 100.0, 2) AS price_effect,
      |  round(CAST(sum(vt) AS DOUBLE) / 100.0, 2) AS volume_effect,
      |  round(CAST(sum(xt) AS DOUBLE) / 100.0, 2) AS cross_effect,
      |  round(sum(nr) / 100.0, 2) AS new_rev,
      |  round(sum(lr) / 100.0, 2) AS lost_rev
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  /** q233: the streaming CDC apply promoted to a first-class oracle gate
    * (the batch/stream parity specs run on MemoryStream fixtures; this
    * runs the REAL Structured Streaming path against the same parquet the
    * batch gate reads). The events file streams through FileStreamSource
    * into [[graft.streaming.StreamingOps.applyChangelog]]
    * (mapGroupsWithState, constant per-key state), the Update-mode memory
    * sink collects each key's post-batch state, and the surviving rows are
    * shaped to q224's exact output contract — the oracle IS q224's SQL, so
    * a hash match proves streaming-operator semantics == the batch
    * changelog apply on real data, tombstones and null payloads included.
    * AvailableNow + an effectively-unbounded maxFilesPerTrigger pins a
    * single data micro-batch (asserted loudly), so "last emission per key"
    * needs no batch-ordinal bookkeeping. */
  private def q233(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"$dir/events.parquet"
    // FileStreamSource needs an explicit schema: take it from a batch
    // footer read (metadata only — no data scan).
    val schema = s.read.parquet(path).schema
    // a bare file path is rejected ("basePath must be a directory"): the
    // source expects a directory or a GLOB. Wrapping the first character
    // in a one-char class keeps the same matches while forcing glob mode,
    // so the gate runs against single-file and directory layouts alike.
    val streamPath = {
      val f = new java.io.File(path)
      if (f.isDirectory) path
      else s"$dir/[${path.split('/').last.head}]${path.split('/').last.tail}"
    }
    val ops = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1000000")
      .parquet(streamPath)
      .select($"user_id", $"event_id".as("seq"),
        when($"event_type" === "error", "D")
          .when($"event_type" === "signup", "I")
          .when($"event_type".isin("purchase", "click"), "U").as("op"),
        get_json_object($"props", "$.k").cast("long").as("plan"),
        $"value".as("amount"))
      .where($"op".isNotNull)
      .as[graft.streaming.StreamingOps.CdcOp]
    graft.streaming.StreamHarness.runChecked(
        graft.streaming.StreamingOps.applyChangelog(ops).toDF(),
        "q233_sink_",
        org.apache.spark.sql.streaming.OutputMode.Update(),
        noDataBatches = false) { q =>
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches == 1,
        s"q233 expects ONE data micro-batch (last-emission-per-key needs no " +
          s"batch bookkeeping then); got $dataBatches — raise maxFilesPerTrigger")
    }
      .filter($"exists")
      .select($"user_id", $"plan", round($"amount", 2).as("amount"),
        $"n_live_ops")
      .orderBy($"user_id")
  }

  /** q264: the CDC apply through `transformWithState` — Spark 4's NEW
    * arbitrary-state streaming API (typed state variables on RocksDB,
    * the successor to mapGroupsWithState), run as a real
    * FileStreamSource → TransformWithStateExec → memory-sink query and
    * hash-gated against the SAME batch oracle as q224/q233. The fold is
    * byte-for-byte shared with q233's processor
    * ([[graft.streaming.StreamingOps.applyChangelogTws]]), so the three
    * paths (batch SQL, mapGroupsWithState, transformWithState) are
    * pinned to one fixed point. TWS only runs on the RocksDB state
    * store provider — set for this query, restored after. */
  private def q264(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    val streamPath = {
      val f = new java.io.File(path)
      if (f.isDirectory) path
      else s"$dir/[${path.split('/').last.head}]${path.split('/').last.tail}"
    }
    val ops = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1000000")
      .parquet(streamPath)
      .select($"user_id", $"event_id".as("seq"),
        when($"event_type" === "error", "D")
          .when($"event_type" === "signup", "I")
          .when($"event_type".isin("purchase", "click"), "U").as("op"),
        get_json_object($"props", "$.k").cast("long").as("plan"),
        $"value".as("amount"))
      .where($"op".isNotNull)
      .as[graft.streaming.StreamingOps.CdcOp]
    graft.streaming.StreamHarness.runChecked(
        graft.streaming.StreamingOps.applyChangelogTws(ops).toDF(),
        "q264_sink_",
        org.apache.spark.sql.streaming.OutputMode.Update(),
        extraConfs = Map("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")) { q =>
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches == 1,
        s"q264 expects ONE data micro-batch (last-emission-per-key needs no " +
          s"batch bookkeeping then); got $dataBatches — raise maxFilesPerTrigger")
    }
      .filter($"exists")
      .select($"user_id", $"plan", round($"amount", 2).as("amount"),
        $"n_live_ops")
      .orderBy($"user_id")
  }

  /** q313: right-to-be-forgotten TAKEDOWN CASCADE audit — the compliance
    * pass every data platform (and every training-corpus pipeline fed by
    * one) must run: given a forget set of subjects, delete their rows
    * and everything reachable through ownership FKs (customer → orders →
    * lineitems; customer → events), and PROVE the cascade with per-table
    * delete/keep counts, exact key checksums of the SURVIVING sets (a
    * count can't detect deleting the wrong rows; a keyed checksum can),
    * and a dangling-reference audit (surviving lineitems whose order was
    * deleted MUST be zero — the referential guarantee the cascade
    * exists to uphold).
    *
    * Scale shape: the forget set broadcasts (takedown lists are tiny
    * relative to the corpus); each cascade level is one broadcast
    * semi/anti-join on the owning key, no shuffle of fact payloads; the
    * checksums are plain map-side-combinable sums. */
  private def q313(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val forget = Tables.customer(s, dir)
      .filter($"c_custkey" % 97 === 0).select($"c_custkey").localCheckpoint(true)
    val orders = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
    val delOrders = orders
      .join(broadcast(forget.select($"c_custkey".as("o_custkey"))),
        Seq("o_custkey"), "leftsemi").localCheckpoint(true)
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_linenumber")
    val ev = Tables.events(s, dir).select($"event_id", $"user_id")
    def audit(name: String, total: DataFrame, deleted: DataFrame,
              key: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
              keyCol: String): DataFrame = {
      val kept = total.join(deleted, total(keyCol) === deleted(keyCol), "leftanti")
      val d = deleted.agg(count(lit(1)).as("n"),
        coalesce(sum(key(deleted(keyCol))), lit(0L)).as("ck")).withColumn("w", lit(1))
      val k = kept.agg(count(lit(1)).as("n"),
        coalesce(sum(key(kept(keyCol))), lit(0L)).as("ck")).withColumn("w", lit(1))
      d.as("d").join(k.as("k"), "w")
        .select(lit(name).as("table_name"), $"d.n".as("n_deleted"),
          $"k.n".as("n_kept"), $"k.ck".as("kept_key_checksum"))
    }
    val mod = lit(1000000007L)
    def ck(c: org.apache.spark.sql.Column) = pmod(c * lit(2654435761L), mod)
    val delLi = li.join(delOrders.select($"o_orderkey".as("l_orderkey")),
      Seq("l_orderkey"), "leftsemi")
    val delEv = ev.join(broadcast(forget.select($"c_custkey".as("user_id"))),
      Seq("user_id"), "leftsemi")
    // dangling audit: surviving lineitems referencing a deleted order
    val dangling = li
      .join(delOrders.select($"o_orderkey".as("l_orderkey")), Seq("l_orderkey"), "leftsemi")
      .join(delLi.select($"l_orderkey", $"l_linenumber"),
        Seq("l_orderkey", "l_linenumber"), "leftanti")
      .agg(count(lit(1)).as("n")).withColumn("w", lit(1))
    val base = audit("customer", Tables.customer(s, dir).select($"c_custkey"),
        forget, ck, "c_custkey")
      .unionAll(audit("orders", orders.select($"o_orderkey"),
        delOrders.select($"o_orderkey"), ck, "o_orderkey"))
      .unionAll(audit("lineitem",
        li.select((($"l_orderkey" * 10 + $"l_linenumber")).as("lk")),
        delLi.select((($"l_orderkey" * 10 + $"l_linenumber")).as("lk")),
        ck, "lk"))
      .unionAll(audit("events", ev.select($"event_id"),
        delEv.select($"event_id"), ck, "event_id"))
    base.withColumn("w", lit(1))
      .join(broadcast(dangling.select($"n".as("n_dangling"), $"w")), "w")
      .select($"table_name", $"n_deleted", $"n_kept", $"kept_key_checksum",
        $"n_dangling")
      .orderBy($"table_name")
  }
  private val q313Sql =
    """WITH forget AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
      |del_o AS (SELECT o_orderkey FROM orders
      |  WHERE o_custkey IN (SELECT c_custkey FROM forget)),
      |li AS (SELECT l_orderkey * 10 + l_linenumber AS lk, l_orderkey
      |  FROM lineitem),
      |del_li AS (SELECT lk FROM li
      |  WHERE l_orderkey IN (SELECT o_orderkey FROM del_o)),
      |del_e AS (SELECT event_id FROM events
      |  WHERE user_id IN (SELECT c_custkey FROM forget)),
      |rows_ AS (
      |  SELECT 'customer' AS table_name, c_custkey AS k,
      |    c_custkey % 97 = 0 AS del FROM customer
      |  UNION ALL SELECT 'orders', o_orderkey,
      |    o_orderkey IN (SELECT o_orderkey FROM del_o) FROM orders
      |  UNION ALL SELECT 'lineitem', lk,
      |    lk IN (SELECT lk FROM del_li) FROM li
      |  UNION ALL SELECT 'events', event_id,
      |    event_id IN (SELECT event_id FROM del_e) FROM events),
      |agg AS (SELECT table_name,
      |    CAST(count(*) FILTER (WHERE del) AS BIGINT) AS n_deleted,
      |    CAST(count(*) FILTER (WHERE NOT del) AS BIGINT) AS n_kept,
      |    CAST(coalesce(sum(CASE WHEN NOT del
      |      THEN (k * 2654435761) % 1000000007 END), 0) AS BIGINT)
      |      AS kept_key_checksum
      |  FROM rows_ GROUP BY 1)
      |SELECT table_name, n_deleted, n_kept, kept_key_checksum,
      |  (SELECT CAST(count(*) AS BIGINT) FROM li
      |   WHERE l_orderkey IN (SELECT o_orderkey FROM del_o)
      |     AND lk NOT IN (SELECT lk FROM del_li)) AS n_dangling
      |FROM agg ORDER BY table_name""".stripMargin

  /** q317: BITEMPORAL as-of reconstruction — "what did the warehouse
    * believe at transaction time b about business time T?", the
    * two-dimensional audit query SCD2 (q74, valid time only) and PIT
    * joins (q216, one dimension) cannot answer: regulators replay
    * decisions against the data AS KNOWN THEN, late-arriving facts and
    * all. Facts get a deterministic ingestion batch (event_id mod 3 —
    * transaction time) independent of their event time (valid time);
    * the gate reconstructs, for every cell of a 3×2 (txn batch ×
    * business cutpoint) grid, each sampled user's in-effect event type:
    * the (ts, event_id)-max fact with ts ≤ T among facts with batch ≤ b.
    * Cutpoints derive from the data's own [min, max] ts span (exact
    * integer thirds), so the grid is scale-free. A fact visible at
    * (b, T) stays visible at every (b', T') ≥ — monotonicity the spec
    * asserts cell by cell.
    *
    * Scale shape: the 6-cell grid broadcasts against the fact stream
    * (map-side 6× multiply of the PRUNED (user, ts, id, type) columns,
    * never payloads), then ONE shuffle on (user, cell) into a
    * partial-combinable max-struct argmax — no window, no self-join. */
  private def q317(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type",
        pmod($"event_id", lit(3L)).as("txn"))
      .filter($"user_id" % 11 === 0)
    val span = ev.agg(min($"ts").as("mn"), max($"ts").as("mx"))
    val grid = span.select(explode(array(
        (0 until 3).flatMap { b => (1 to 2).map { k =>
          struct(lit(b.toLong).as("b"), lit(k.toLong).as("t_idx"),
            ($"mn" + expr(s"((mx - mn) * $k) div 3")).as("cut"))
        } }: _*)).as("g"))
      .select($"g.b", $"g.t_idx", $"g.cut")
    ev.join(broadcast(grid), $"txn" <= $"b" && $"ts" <= $"cut")
      .groupBy($"b", $"t_idx", $"user_id")
      .agg(max(struct($"ts", $"event_id", $"event_type")).as("m"))
      .select($"b", $"t_idx", $"user_id",
        $"m.event_type".as("believed_type"),
        $"m.event_id".as("asof_event_id"),
        expr("m.ts div 1000").as("asof_ts_us"))
      .orderBy($"b", $"t_idx", $"user_id")
  }
  private val q317Sql =
    """WITH ev AS (SELECT user_id, epoch_ns(ts) AS tsn, event_id,
      |    event_type, event_id % 3 AS txn
      |  FROM events WHERE user_id % 11 = 0),
      |span AS (SELECT min(tsn) AS mn, max(tsn) AS mx FROM ev),
      |grid AS (SELECT b.b, k.t_idx,
      |    span.mn + (span.mx - span.mn) * k.t_idx // 3 AS cut
      |  FROM span, (VALUES (CAST(0 AS BIGINT)), (1), (2)) b(b),
      |    (VALUES (CAST(1 AS BIGINT)), (2)) k(t_idx)),
      |cells AS (SELECT g.b, g.t_idx, e.user_id, e.tsn, e.event_id,
      |    e.event_type,
      |    row_number() OVER (PARTITION BY g.b, g.t_idx, e.user_id
      |      ORDER BY e.tsn DESC, e.event_id DESC) AS rk
      |  FROM ev e JOIN grid g ON e.txn <= g.b AND e.tsn <= g.cut)
      |SELECT b, t_idx, user_id, event_type AS believed_type,
      |  event_id AS asof_event_id, tsn // 1000 AS asof_ts_us
      |FROM cells WHERE rk = 1
      |ORDER BY b, t_idx, user_id""".stripMargin

  /** q325: snapshot diff over REAL [[graft.pipeline.Catalog]] TIME TRAVEL
    * — the one catalog feature previously checked only by specs, now
    * under the DuckDB hash gate: the gate commits two overwrites of a
    * customer-aggregate table into a throwaway warehouse (v1 = orders
    * with 1994 ≤ orderdate < 1996, v2 = the window slid one year), then
    * reads BOTH versions back through `readAsOf` and diffs them with
    * [[graft.pipeline.TableDiff]]. The sliding window makes all three
    * change types occur (added / removed / changed); the oracle replays
    * the two snapshot derivations straight from `orders` and the same
    * full-outer diff — if time travel resolved the wrong manifest or
    * leaked files across versions, the hash breaks. Money is
    * cents-quantized BIGINT (the engine-wide exactness idiom).
    *
    * Scale shape: two grouped aggregates (one shuffle each on custkey)
    * to write, then the diff's single full-outer join on the same key;
    * the catalog adds manifest reads only (file-count-sized, not
    * row-sized). The result is materialized eagerly so the throwaway
    * warehouse can be deleted before returning. */
  private def q325(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Staging.withStagedDir("graft_cat_q325_") { wh =>
      import s.implicits._
      val cat = new graft.pipeline.Catalog(s, wh)
      val o = Tables.orders(s, dir)
      def snap(lo: String, hi: String): DataFrame =
        o.filter($"o_orderdate" >= lit(java.sql.Timestamp.valueOf(lo)) &&
            $"o_orderdate" < lit(java.sql.Timestamp.valueOf(hi)))
          .groupBy($"o_custkey".as("custkey"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
      cat.overwrite(snap("1994-01-01 00:00:00", "1996-01-01 00:00:00"), "cust_agg", Nil)
      cat.overwrite(snap("1995-01-01 00:00:00", "1997-01-01 00:00:00"), "cust_agg", Nil)
      graft.pipeline.TableDiff.diff(
          cat.readAsOf("cust_agg", 1), cat.readAsOf("cust_agg", 2),
          keyCols = Seq("custkey"), compareCols = Seq("n_orders", "cents"))
        .orderBy($"custkey")
        .localCheckpoint(true) // pin before the warehouse disappears
    }
  private val q325Sql =
    """WITH o1 AS (SELECT o_custkey AS custkey,
      |    CAST(count(*) AS BIGINT) AS n_orders,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00' GROUP BY 1),
      |o2 AS (SELECT o_custkey AS custkey,
      |    CAST(count(*) AS BIGINT) AS n_orders,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' GROUP BY 1),
      |d AS (SELECT coalesce(o1.custkey, o2.custkey) AS custkey,
      |    o1.n_orders AS old_n_orders, o1.cents AS old_cents,
      |    o2.n_orders AS new_n_orders, o2.cents AS new_cents,
      |    CASE WHEN o1.custkey IS NULL THEN 'added'
      |         WHEN o2.custkey IS NULL THEN 'removed'
      |         WHEN o1.n_orders IS DISTINCT FROM o2.n_orders
      |           OR o1.cents IS DISTINCT FROM o2.cents THEN 'changed'
      |    END AS change_type
      |  FROM o1 FULL OUTER JOIN o2 ON o1.custkey = o2.custkey)
      |SELECT * FROM d WHERE change_type IS NOT NULL
      |ORDER BY custkey""".stripMargin

  /** q364: CATALOG VERSIONED READ (`VERSION AS OF` on the MERGE-emulating
    * [[graft.pipeline.Catalog]]) — every commit writes a new manifest and
    * keeps the outgoing files listed by the older ones, and this gate puts
    * that read path under the DuckDB hash: a throwaway warehouse takes two
    * non-partitioned upserts of a per-customer aggregate (v1 = pre-1996
    * orders; the incoming batch = 1996+ orders, which UPDATES colliding
    * custkeys and INSERTS new ones), then BOTH versions are read back —
    * v1 through `readAsOf` against version 1's immutable files, v2 as
    * the live merge — and summarized one row per version. The oracle
    * replays the v1 derivation and the MERGE semantics (incoming ∪ target
    * anti incoming, the q13 contract) straight from `orders`: a versioned
    * read that resolved the wrong snapshot, leaked post-merge rows into
    * v1, or dropped unmatched target rows from v2 lands in the hash.
    *
    * Scale shape: two grouped aggregates to build the images, the
    * upsert's anti-join (key-shuffled, partition-prunable at scale), and
    * two 1-row summaries; versioning itself adds only file renames and a
    * manifest — no data copy at any size. Cents are exact BIGINT (engine-wide money
    * idiom). Result is pinned eagerly so the warehouse can be deleted. */
  private def q364(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Staging.withStagedDir("graft_cat_q364_") { wh =>
      import s.implicits._
      val cat = new graft.pipeline.Catalog(s, wh)
      val o = Tables.orders(s, dir)
      val split = lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))
      def img(pred: org.apache.spark.sql.Column): DataFrame =
        o.filter(pred)
          .groupBy($"o_custkey".as("custkey"))
          .agg(count(lit(1)).as("n_orders"),
            sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
      cat.upsert(img($"o_orderdate" < split), "cust_agg",
        keys = Seq("custkey"), partitionBy = Seq.empty)
      cat.upsert(img($"o_orderdate" >= split), "cust_agg",
        keys = Seq("custkey"), partitionBy = Seq.empty)
      def summarize(v: Long): DataFrame =
        cat.readAsOf("cust_agg", v)
          .agg(count(lit(1)).as("n_keys"),
            sum($"n_orders").as("sum_orders"),
            sum($"cents").as("sum_cents"))
          .select(lit(v).as("version"), col("*"))
      summarize(1).unionAll(summarize(2)).orderBy($"version")
        .localCheckpoint(true) // pin before the warehouse disappears
    }
  /** q365: PARTITIONED VERSIONED READ — the Delta-bronze time-travel
    * analog on the dynamic-partition upsert path (the reference MERGEs
    * into a symbol-partitioned Delta bronze and can read any prior
    * version; reference notebooks/bronze/01_ingest_bronze.py:85-107).
    * A throwaway warehouse publishes a status-partitioned per-customer
    * aggregate (v1 = pre-1996 orders, all statuses), then upserts a
    * batch restricted to status 'O' (1996+ orders) — touching exactly
    * ONE partition. Both versions are read back — v1 from version 1's
    * manifest, whose status-O files the upsert superseded and whose F and
    * P files version 2 still lists, v2 as the live table — and summarized
    * per (version, status). The oracle replays both
    * derivations and the MERGE semantics from `orders`: a versioned
    * read that resolved a partition to the wrong generation, leaked
    * merged rows into v1, or lost an untouched partition lands in the
    * hash.
    *
    * Scale shape: the upsert reads/merges/promotes ONLY the touched
    * partition (the q13 contract), versioning adds file renames and a
    * manifest — no data copy at any size — and the versioned read is one
    * manifest read, with data files shared between versions, never
    * duplicated. */
  private def q365(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.Staging.withStagedDir("graft_cat_q365_") { wh =>
      import s.implicits._
      val cat = new graft.pipeline.Catalog(s, wh)
      val o = Tables.orders(s, dir)
      val split = lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))
      def img(d: DataFrame): DataFrame =
        d.groupBy($"o_orderstatus".as("status"), $"o_custkey".as("custkey"))
          .agg(count(lit(1)).as("n_orders"),
            sum(org.apache.spark.sql.functions.round($"o_totalprice" * 100)
              .cast("long")).as("cents"))
      cat.upsert(img(o.filter($"o_orderdate" < split)), "status_agg",
        keys = Seq("status", "custkey"), partitionBy = Seq("status"))
      cat.upsert(
        img(o.filter($"o_orderdate" >= split && $"o_orderstatus" === "O")),
        "status_agg", keys = Seq("status", "custkey"), partitionBy = Seq("status"))
      def summarize(v: Long): DataFrame =
        cat.readAsOf("status_agg", v)
          .groupBy($"status")
          .agg(count(lit(1)).as("n_keys"),
            sum($"n_orders").as("sum_orders"),
            sum($"cents").as("sum_cents"))
          .select(lit(v).as("version"), col("*"))
      summarize(1).unionAll(summarize(2))
        .orderBy($"version", $"status")
        .localCheckpoint(true) // pin before the warehouse disappears
    }
  private val q365Sql =
    """WITH v1 AS (SELECT o_orderstatus AS status, o_custkey AS custkey,
      |    CAST(count(*) AS BIGINT) AS n_orders,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00' GROUP BY 1, 2),
      |inc AS (SELECT o_orderstatus AS status, o_custkey AS custkey,
      |    CAST(count(*) AS BIGINT) AS n_orders,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o_orderstatus = 'O' GROUP BY 1, 2),
      |v2 AS (SELECT * FROM inc
      |  UNION ALL
      |  SELECT * FROM v1 t
      |  WHERE NOT EXISTS (SELECT 1 FROM inc i
      |    WHERE i.status = t.status AND i.custkey = t.custkey)),
      |s1 AS (SELECT CAST(1 AS BIGINT) AS version, status,
      |    CAST(count(*) AS BIGINT) AS n_keys,
      |    CAST(sum(n_orders) AS BIGINT) AS sum_orders,
      |    CAST(sum(cents) AS BIGINT) AS sum_cents
      |  FROM v1 GROUP BY 2),
      |s2 AS (SELECT CAST(2 AS BIGINT) AS version, status,
      |    CAST(count(*) AS BIGINT) AS n_keys,
      |    CAST(sum(n_orders) AS BIGINT) AS sum_orders,
      |    CAST(sum(cents) AS BIGINT) AS sum_cents
      |  FROM v2 GROUP BY 2)
      |SELECT * FROM s1 UNION ALL SELECT * FROM s2
      |ORDER BY version, status""".stripMargin

  /** q366: Z-ORDER CLUSTERING and its measured skipping win — the
    * multi-dimensional layout optimization (Delta/Iceberg `OPTIMIZE
    * ZORDER BY`) as a first-class, hash-gated operator. Orders are
    * bucketed on two independent dimensions (customer, total price in
    * exact cents) into 8-bit grids, laid out into 64 equal "files" two
    * ways — linearly (sorted by customer, the single-column layout a
    * partitioned warehouse gets for free) and by the Morton-interleaved
    * z-value ([[graft.layout.ZOrder]]) — and a quarter-domain 2-d box
    * query is planned against each layout's per-file min/max stats. The
    * gate emits, per layout, the file count, the files a min/max-pruning
    * scan must read, and the true row count in the box (identical across
    * layouts — the selection is layout-invariant, only the I/O differs).
    * The oracle replays bucketing (integer division), the unrolled
    * interleave (shifts/masks — bit-exact in both engines), the
    * row_number file assignment, and the overlap test.
    *
    * Scale shape: file ids come from [[graft.operators.DistributedScan
    * .rowNumbers]] (range-repartition + per-partition sums — no global
    * single-task window at any size); buckets and z-values are unrolled
    * codegen column arithmetic (no UDF, no lambda); stats attach via the
    * q98 data-derived constant-key broadcast. The measured point IS the
    * 100 TB story: the z layout bounds BOTH dimensions per file, so box
    * selectivity turns into file skipping, where the linear layout scans
    * every file for any predicate on the second dimension. */
  private def q366(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bits = 8
    val o = Tables.orders(s, dir).select($"o_orderkey".as("ok"),
      $"o_custkey".as("ck"),
      org.apache.spark.sql.functions.round($"o_totalprice" * 100)
        .cast("long").as("cents"))
    val st = o.agg(min($"ck").as("cklo"), max($"ck").as("ckhi"),
        min($"cents").as("clo"), max($"cents").as("chi"),
        count(lit(1)).as("n"))
      .withColumn("one", pmod($"n", lit(1L)))
    val b = o.withColumn("one", pmod($"ok", lit(1L)))
      .join(broadcast(st), "one")
      .select($"ok", $"n",
        graft.layout.ZOrder.bucket($"ck", $"cklo", $"ckhi", bits).as("xb"),
        graft.layout.ZOrder.bucket($"cents", $"clo", $"chi", bits).as("yb"))
      .withColumn("zv", graft.layout.ZOrder.zValue(Seq($"xb", $"yb"), bits))
      .withColumn("rpf",
        (($"n" + 63L - pmod($"n" + 63L, lit(64L))) / lit(64L)).cast("long"))
    val (lo, hi) = (64L, 127L)
    def layout(name: String,
        order: Seq[org.apache.spark.sql.Column]): DataFrame = {
      val rn = graft.operators.DistributedScan.rowNumbers(b, order, "rn")
        .withColumn("f",
          (($"rn" - 1L - pmod($"rn" - 1L, $"rpf")) / $"rpf").cast("long"))
      rn.groupBy($"f")
        .agg(min($"xb").as("x0"), max($"xb").as("x1"),
          min($"yb").as("y0"), max($"yb").as("y1"),
          sum(($"xb".between(lo, hi) && $"yb".between(lo, hi)).cast("long"))
            .as("inbox"))
        .agg(count(lit(1)).as("n_files"),
          sum(($"x0" <= hi && $"x1" >= lo && $"y0" <= hi && $"y1" >= lo)
            .cast("long")).as("files_scanned"),
          sum($"inbox").as("rows_in_box"))
        .select(lit(name).as("layout"), col("*"))
    }
    layout("linear", Seq($"xb", $"ok"))
      .unionAll(layout("zorder", Seq($"zv", $"ok")))
      .orderBy($"layout")
  }
  private val q366Sql = {
    val bits = 8
    val inter = (0 until bits).flatMap(i => Seq(
      s"(((xb >> $i) & 1) << ${2 * i})",
      s"(((yb >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
    s"""WITH o AS (SELECT o_orderkey AS ok, o_custkey AS ck,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
      |st AS (SELECT min(ck) AS cklo, max(ck) AS ckhi, min(cents) AS clo,
      |    max(cents) AS chi, CAST(count(*) AS BIGINT) AS n FROM o),
      |b0 AS (SELECT ok, n, ((ck - cklo) * 256) // (ckhi - cklo + 1) AS xb,
      |    ((cents - clo) * 256) // (chi - clo + 1) AS yb FROM o, st),
      |b AS (SELECT ok, n, xb, yb, $inter AS zv,
      |    (n + 63) // 64 AS rpf FROM b0),
      |fz AS (SELECT xb, yb, rpf,
      |    row_number() OVER (ORDER BY zv, ok) AS rn FROM b),
      |fl AS (SELECT xb, yb, rpf,
      |    row_number() OVER (ORDER BY xb, ok) AS rn FROM b),
      |az AS (SELECT (rn - 1) // rpf AS f, min(xb) AS x0, max(xb) AS x1,
      |    min(yb) AS y0, max(yb) AS y1,
      |    CAST(sum(CASE WHEN xb BETWEEN 64 AND 127
      |      AND yb BETWEEN 64 AND 127 THEN 1 ELSE 0 END) AS BIGINT) AS inbox
      |  FROM fz GROUP BY 1),
      |al AS (SELECT (rn - 1) // rpf AS f, min(xb) AS x0, max(xb) AS x1,
      |    min(yb) AS y0, max(yb) AS y1,
      |    CAST(sum(CASE WHEN xb BETWEEN 64 AND 127
      |      AND yb BETWEEN 64 AND 127 THEN 1 ELSE 0 END) AS BIGINT) AS inbox
      |  FROM fl GROUP BY 1)
      |SELECT 'linear' AS layout, CAST(count(*) AS BIGINT) AS n_files,
      |  CAST(sum(CASE WHEN x0 <= 127 AND x1 >= 64 AND y0 <= 127 AND y1 >= 64
      |    THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
      |  CAST(sum(inbox) AS BIGINT) AS rows_in_box FROM al
      |UNION ALL
      |SELECT 'zorder', CAST(count(*) AS BIGINT),
      |  CAST(sum(CASE WHEN x0 <= 127 AND x1 >= 64 AND y0 <= 127 AND y1 >= 64
      |    THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(sum(inbox) AS BIGINT) FROM az
      |ORDER BY layout""".stripMargin
  }

  private val q364Sql =
    """WITH v1 AS (SELECT o_custkey AS custkey,
      |    CAST(count(*) AS BIGINT) AS n_orders,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00' GROUP BY 1),
      |inc AS (SELECT o_custkey AS custkey,
      |    CAST(count(*) AS BIGINT) AS n_orders,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' GROUP BY 1),
      |v2 AS (SELECT * FROM inc
      |  UNION ALL
      |  SELECT * FROM v1 t
      |  WHERE NOT EXISTS (SELECT 1 FROM inc i WHERE i.custkey = t.custkey))
      |SELECT CAST(1 AS BIGINT) AS version,
      |    CAST(count(*) AS BIGINT) AS n_keys,
      |    CAST(sum(n_orders) AS BIGINT) AS sum_orders,
      |    CAST(sum(cents) AS BIGINT) AS sum_cents FROM v1
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
      |    CAST(sum(n_orders) AS BIGINT), CAST(sum(cents) AS BIGINT) FROM v2
      |ORDER BY version""".stripMargin

  /** q344: SCHEMA EVOLUTION on an appended parquet table — the add-a-
    * column migration every long-lived warehouse table survives: batch 1
    * lands per-customer 1994 order counts WITHOUT the revenue column,
    * batch 2 lands 1995 counts WITH it, and a mergeSchema read of the
    * table must union the schemas and backfill NULL revenue for the old
    * rows. The gate aggregates the evolved table per customer (count,
    * order sum, null-aware revenue sum plus an explicit pre-evolution
    * row count), so a reader that dropped old rows, coerced the missing
    * column to 0, or failed to merge the footer schemas lands in the
    * hash. Oracle replays the same union with an explicit NULL branch.
    *
    * Scale shape: the read is one scan with footer-schema merge (an
    * O(#files) planning cost — at 100 TB pin the evolved schema in the
    * catalog, as `pipeline.Schemas` does, rather than re-inferring; the
    * gate exercises the fallback path) + one grouped aggregate. */
  private def q344(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
    def year(y: Int) = o.filter(
      $"o_orderdate" >= lit(java.sql.Timestamp.valueOf(s"$y-01-01 00:00:00")) &&
        $"o_orderdate" < lit(java.sql.Timestamp.valueOf(s"${y + 1}-01-01 00:00:00")))
    graft.pipeline.Staging.withStagedDir("graft_q344_") { staged =>
      year(1994).groupBy($"o_custkey".as("custkey"))
        .agg(count(lit(1)).as("n_orders"))
        .write.mode("append").parquet(staged)
      year(1995).groupBy($"o_custkey".as("custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
        .write.mode("append").parquet(staged)
      s.read.option("mergeSchema", "true").parquet(staged)
        .groupBy($"custkey")
        .agg(count(lit(1)).as("n_batches"),
          sum($"n_orders").as("n_orders"),
          sum(when($"cents".isNull, 1L).otherwise(0L)).as("n_pre_evolution"),
          coalesce(sum($"cents"), lit(0L)).as("cents"))
        .orderBy($"custkey")
        .localCheckpoint(true) // pin before the staging disappears
    }
  }
  private val q344Sql =
    """WITH b1 AS (SELECT o_custkey AS custkey,
      |    CAST(count(*) AS BIGINT) AS n_orders,
      |    CAST(NULL AS BIGINT) AS cents
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1994-01-01'
      |    AND o_orderdate < TIMESTAMP '1995-01-01'
      |  GROUP BY 1),
      |b2 AS (SELECT o_custkey, CAST(count(*) AS BIGINT),
      |    CAST(sum(round(o_totalprice * 100)) AS BIGINT)
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      |    AND o_orderdate < TIMESTAMP '1996-01-01'
      |  GROUP BY 1),
      |u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
      |SELECT custkey, CAST(count(*) AS BIGINT) AS n_batches,
      |  CAST(sum(n_orders) AS BIGINT) AS n_orders,
      |  CAST(sum(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_pre_evolution,
      |  coalesce(CAST(sum(cents) AS BIGINT), CAST(0 AS BIGINT)) AS cents
      |FROM u GROUP BY custkey ORDER BY custkey""".stripMargin

  /** q362: SCHEMA EVOLUTION through the ORC reader — q344's add-a-column
    * migration replayed through the OTHER columnar format the jars
    * support: batch 1 lands 1996 per-customer counts WITHOUT the
    * revenue column, batch 2 lands 1997 counts WITH it, and an ORC read
    * with mergeSchema must union the footer schemas and backfill NULL
    * for pre-evolution rows. Same hash-visible failure modes as q344
    * (dropped old rows, 0-coercion, unmerged schemas), now certifying
    * the ORC TypeDescription merge path rather than the parquet footer
    * merge. Scale note as q344: at 100 TB pin the evolved schema in the
    * catalog; the gate exercises the inference fallback. */
  private def q362(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
    def year(y: Int) = o.filter(
      $"o_orderdate" >= lit(java.sql.Timestamp.valueOf(s"$y-01-01 00:00:00")) &&
        $"o_orderdate" < lit(java.sql.Timestamp.valueOf(s"${y + 1}-01-01 00:00:00")))
    graft.pipeline.Staging.withStagedDir("graft_q362_") { staged =>
      year(1996).groupBy($"o_custkey".as("custkey"))
        .agg(count(lit(1)).as("n_orders"))
        .write.mode("append").orc(staged)
      year(1997).groupBy($"o_custkey".as("custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round($"o_totalprice" * 100).cast("long")).as("cents"))
        .write.mode("append").orc(staged)
      s.read.option("mergeSchema", "true").orc(staged)
        .groupBy($"custkey")
        .agg(count(lit(1)).as("n_batches"),
          sum($"n_orders").as("n_orders"),
          sum(when($"cents".isNull, 1L).otherwise(0L)).as("n_pre_evolution"),
          coalesce(sum($"cents"), lit(0L)).as("cents"))
        .orderBy($"custkey")
        .localCheckpoint(true) // pin before the staging disappears
    }
  }
  private val q362Sql =
    """WITH b1 AS (SELECT o_custkey AS custkey,
      |    CAST(count(*) AS BIGINT) AS n_orders,
      |    CAST(NULL AS BIGINT) AS cents
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o_orderdate < TIMESTAMP '1997-01-01'
      |  GROUP BY 1),
      |b2 AS (SELECT o_custkey, CAST(count(*) AS BIGINT),
      |    CAST(sum(round(o_totalprice * 100)) AS BIGINT)
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |    AND o_orderdate < TIMESTAMP '1998-01-01'
      |  GROUP BY 1),
      |u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
      |SELECT custkey, CAST(count(*) AS BIGINT) AS n_batches,
      |  CAST(sum(n_orders) AS BIGINT) AS n_orders,
      |  CAST(sum(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_pre_evolution,
      |  coalesce(CAST(sum(cents) AS BIGINT), CAST(0 AS BIGINT)) AS cents
      |FROM u GROUP BY custkey ORDER BY custkey""".stripMargin

  /** q360: BUCKETED co-located fact-to-fact join — the physical-layout
    * answer to "lineitem ⋈ orders at 100 TB without an exchange": both
    * sides are written through [[graft.pipeline.Bucketing.writeBucketed]]
    * with the SAME bucket count on the join key (+ sortBy, so bucket
    * files are merge-ready), and the MERGE-hinted join zips
    * corresponding buckets — SortMergeJoin with NO Exchange on either
    * side, and the first (per-orderkey) aggregate reuses the bucket
    * partitioning too. That claim is enforced STRUCTURALLY inside the
    * gate: after execution the final AQE plan must contain at most ONE
    * ShuffleExchange (the 100-row second-level roll-up) or the gate
    * throws — a layout regression can never pass silently. The oracle
    * replays the join+aggregates from the raw parquet, so the hash also
    * proves the bucketed WRITE→READ round trip lost nothing.
    *
    * Scale shape: this IS the scale shape — the exchange that dominates
    * fact-to-fact joins is eliminated by layout; per-round cost is a
    * zip of pre-sorted bucket files. The staging write is one-time and
    * amortized across every downstream join of the same key (the
    * parquet-table analog of the reference's Delta partitioning,
    * applied to join keys). */
  private def q360(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_quantity",
        round($"l_extendedprice" * 100).cast("long").as("price_c"))
    val ord = Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey")
    // UUID-suffixed staging tables: concurrent sessions sharing the
    // warehouse cannot race each other's DROPs, and the finally block
    // cleans up even when the plan guard throws (round-11 self-review)
    val sfx = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val (t1, t2) = (s"graft_q360_li_$sfx", s"graft_q360_ord_$sfx")
    try {
      graft.pipeline.Bucketing.writeBucketed(li, t1, "l_orderkey", 16,
        Seq("l_orderkey"))
      graft.pipeline.Bucketing.writeBucketed(ord, t2, "o_orderkey", 16,
        Seq("o_orderkey"))
      val perOrder = s.table(t1).hint("merge")
        .join(s.table(t2), $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_orderkey")
        .agg(count(lit(1)).as("n_items"),
          sum($"price_c").as("order_price_c"),
          max($"o_custkey").as("custkey"))
      val rolled = perOrder
        .groupBy(($"l_orderkey" % 100).as("okey_bucket"))
        .agg(count(lit(1)).as("n_orders"),
          sum($"n_items").as("n_items"),
          sum($"order_price_c").as("price_c"),
          max($"custkey").as("max_custkey"))
      val out = rolled.localCheckpoint(true) // force execution for the guard
      // stage-aware count (PlanGuards): a bare collect over the adaptive
      // plan sees NO exchanges at all — they hide inside LeafExecNode
      // query stages — which made the original guard vacuous
      val nShuffles = graft.pipeline.PlanGuards
        .shuffleCount(rolled.queryExecution.executedPlan)
      require(nShuffles == 1,
        s"q360: bucketed join/agg executed $nShuffles exchanges (expected " +
          s"exactly the single 100-row roll-up) — layout regression:\n" +
          rolled.queryExecution.executedPlan)
      out.orderBy($"okey_bucket")
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $t1")
      s.sql(s"DROP TABLE IF EXISTS $t2")
      ()
    }
  }
  private val q360Sql =
    """WITH po AS (SELECT l.l_orderkey, count(*) AS n_items,
      |    CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS order_price_c,
      |    max(o.o_custkey) AS custkey
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  GROUP BY 1)
      |SELECT l_orderkey % 100 AS okey_bucket,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(n_items) AS BIGINT) AS n_items,
      |  CAST(sum(order_price_c) AS BIGINT) AS price_c,
      |  max(custkey) AS max_custkey
      |FROM po GROUP BY 1 ORDER BY okey_bucket""".stripMargin

  override def queries: Seq[QueryDef] = Seq(
    QueryDef("q360_bucketed_join", q360, Some(q360Sql)),
    QueryDef("q362_orc_schema_evolution", q362, Some(q362Sql)),
    QueryDef("q313_takedown_cascade", q313, Some(q313Sql)),
    QueryDef("q317_bitemporal_asof", q317, Some(q317Sql)),
    QueryDef("q325_snapshot_diff_timetravel", q325, Some(q325Sql)),
    QueryDef("q364_catalog_versioned_read", q364, Some(q364Sql)),
    QueryDef("q365_partitioned_versioned_read", q365, Some(q365Sql)),
    QueryDef("q366_zorder_skipping", q366, Some(q366Sql)),
    QueryDef("q344_schema_evolution", q344, Some(q344Sql)),
    QueryDef("q264_changelog_apply_tws", q264, Some(q224Sql)),
    QueryDef("q74_scd2_history", q74, Some(q74Sql)),
    QueryDef("q216_pit_feature_join", q216, Some(q216Sql)),
    QueryDef("q224_changelog_apply", q224, Some(q224Sql)),
    QueryDef("q233_changelog_apply_streaming", q233, Some(q224Sql)),
    QueryDef("q228_growth_accounting", q228, Some(q228Sql)),
    QueryDef("q231_sla_attainment", q231, Some(q231Sql)),
    QueryDef("q75_funnel_window", q75, Some(q75Sql)),
    QueryDef("q76_cohort_retention", q76, Some(q76Sql)),
    QueryDef("q290_cohort_ltv", q290, Some(q290Sql)),
    QueryDef("q77_skew_salted_join", q77, Some(q77Sql)),
    QueryDef("q96_snapshot_diff", q96, Some(q96Sql)),
    QueryDef("q104_streaks", q104, Some(q104Sql)),
    QueryDef("q113_profile_stats", q113, Some(q113Sql)),
    QueryDef("q192_price_volume_bridge", q192, Some(q192Sql)),
  )

  /** q113: table profiling (ANALYZE-style statistics collection) — per
    * column: row count, null count, exact distinct count, numeric
    * min/max. The profile is ONE aggregate pass over the table computing
    * every column's stats side by side (count_distinct partials merge
    * map-side), then a static unpivot of the wide stat row into the
    * (column, stats) catalog shape — no per-column rescans, which is what
    * makes profiling affordable on a 100 TB table (the distinct counts
    * would switch to HLL there; exact keeps this gate hashable). Numeric
    * min/max stay typed DOUBLE — string-rendering numbers would hash on
    * engine formatting, not values. */
  private def q113(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
    val wide = o.agg(
      count(lit(1)).as("n_rows"),
      sum($"o_orderstatus".isNull.cast("long")).as("nn_status"),
      countDistinct($"o_orderstatus").as("nd_status"),
      sum($"o_custkey".isNull.cast("long")).as("nn_cust"),
      countDistinct($"o_custkey").as("nd_cust"),
      min($"o_custkey").cast("double").as("mn_cust"),
      max($"o_custkey").cast("double").as("mx_cust"),
      sum($"o_totalprice".isNull.cast("long")).as("nn_price"),
      countDistinct($"o_totalprice").as("nd_price"),
      round(min($"o_totalprice"), 2).as("mn_price"),
      round(max($"o_totalprice"), 2).as("mx_price"))
    wide.select(expr(
        """stack(3,
          |  'o_orderstatus', n_rows, nn_status, nd_status, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
          |  'o_custkey',     n_rows, nn_cust,   nd_cust,   mn_cust, mx_cust,
          |  'o_totalprice',  n_rows, nn_price,  nd_price,  mn_price, mx_price)
          |AS (col_name, n_rows, n_nulls, n_distinct, min_num, max_num)""".stripMargin))
      .orderBy($"col_name")
  }
  private val q113Sql =
    """WITH w AS (SELECT count(*) AS n_rows,
      |    CAST(sum(CAST(o_orderstatus IS NULL AS INT)) AS BIGINT) AS nn_status,
      |    count(DISTINCT o_orderstatus) AS nd_status,
      |    CAST(sum(CAST(o_custkey IS NULL AS INT)) AS BIGINT) AS nn_cust,
      |    count(DISTINCT o_custkey) AS nd_cust,
      |    CAST(min(o_custkey) AS DOUBLE) AS mn_cust,
      |    CAST(max(o_custkey) AS DOUBLE) AS mx_cust,
      |    CAST(sum(CAST(o_totalprice IS NULL AS INT)) AS BIGINT) AS nn_price,
      |    count(DISTINCT o_totalprice) AS nd_price,
      |    round(min(o_totalprice), 2) AS mn_price,
      |    round(max(o_totalprice), 2) AS mx_price
      |  FROM orders)
      |SELECT 'o_orderstatus' AS col_name, n_rows, nn_status AS n_nulls,
      |  nd_status AS n_distinct, CAST(NULL AS DOUBLE) AS min_num,
      |  CAST(NULL AS DOUBLE) AS max_num FROM w
      |UNION ALL SELECT 'o_custkey', n_rows, nn_cust, nd_cust, mn_cust, mx_cust FROM w
      |UNION ALL SELECT 'o_totalprice', n_rows, nn_price, nd_price, mn_price, mx_price FROM w
      |ORDER BY col_name""".stripMargin
}
