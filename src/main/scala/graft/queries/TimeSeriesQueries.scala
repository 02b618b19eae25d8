package graft.queries

import graft.{Pins, QueryDef, QueryModule, Tables}
import graft.operators.AsOfJoin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operators the reference's daily grain never needed but any
  * intraday market pipeline does: backward as-of join and OHLC bar
  * resampling. The as-of oracle is DuckDB's native ASOF JOIN — our
  * union+window composition must reproduce it exactly.
  */
object TimeSeriesQueries extends QueryModule {

  /** q50: as-of join — each click joined to the user's latest error at or
    * before it (graft.operators.AsOfJoin: one shuffle, no range join). */
  private def q50(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).withColumn("tsu", expr("ts div 1000"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"tsu", $"event_id", $"value")
    val errors = ev.filter($"event_type" === "error")
      .select($"user_id", $"tsu", $"value")
    AsOfJoin.backward(clicks, errors, key = "user_id", time = "tsu",
        rightCols = Map("value" -> "err_value", "tsu" -> "err_tsu"))
      .select($"user_id", $"tsu", $"event_id", $"value", $"err_value", $"err_tsu")
      .orderBy($"user_id", $"event_id")
  }
  private val q50Sql =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type, value FROM events),
      |clicks AS (SELECT user_id, tsu, event_id, value FROM e WHERE event_type = 'click'),
      |errors AS (SELECT user_id, tsu, value AS err_value FROM e WHERE event_type = 'error')
      |SELECT c.user_id, c.tsu, c.event_id, c.value, er.err_value, er.tsu AS err_tsu
      |FROM clicks c ASOF LEFT JOIN errors er
      |  ON c.user_id = er.user_id AND c.tsu >= er.tsu
      |ORDER BY c.user_id, c.event_id""".stripMargin

  /** q51: OHLC bar resampling — hourly bars per event type: first/last by
    * time (min_by/max_by), high/low, volume. One partial-aggregable
    * shuffle; the workhorse downsampling op for tick-to-bar pipelines. */
  private def q51(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .withColumn("tsu", expr("ts div 1000"))
      .withColumn("hr", expr("tsu div 3600000000"))
      .groupBy($"event_type", $"hr")
      .agg(
        min_by($"value", $"tsu").as("open"),
        max($"value").as("high"),
        min($"value").as("low"),
        max_by($"value", $"tsu").as("close"),
        count(lit(1)).as("n_events"))
      .orderBy($"event_type", $"hr")
  }
  private val q51Sql =
    """WITH e AS (SELECT event_type, epoch_us(ts) AS tsu, value FROM events),
      |b AS (SELECT event_type, tsu // 3600000000 AS hr, value, tsu FROM e)
      |SELECT event_type, hr,
      |  arg_min(value, tsu) AS open,
      |  max(value) AS high,
      |  min(value) AS low,
      |  arg_max(value, tsu) AS close,
      |  count(*) AS n_events
      |FROM b GROUP BY 1, 2 ORDER BY event_type, hr""".stripMargin

  /** q85: exponentially-weighted moving average over each user's purchase
    * stream (α = 0.5, 20-event window). α is deliberately dyadic: every
    * weight 0.5^k and the normalizer 2·(1 − 0.5^n) are exact binary
    * doubles, so `power` returns bit-identical values in any IEEE libm
    * and cross-engine parity cannot hinge on a transcendental ulp. The
    * frame's values fold SEQUENTIALLY (collect_list preserves frame
    * order; the HOF aggregate is an ordered fold), so the sum is
    * order-deterministic — unlike a plain windowed SUM of weighted terms,
    * whose accumulation order an engine may choose freely. One shuffle on
    * user_id; 20-element lists keep the interpreted HOF off any hot path. */
  private def q85(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(-19, 0)
    Tables.events(s, dir)
      .filter($"event_type" === "purchase")
      .withColumn("vals", collect_list($"value").over(w))
      .select($"user_id", $"event_id",
        round(expr(
          "aggregate(zip_with(vals, sequence(size(vals) - 1, 0, -1)," +
            " (v, k) -> v * power(0.5D, k)), 0D, (a, x) -> a + x)") /
          (lit(2.0) * (lit(1.0) - pow(lit(0.5), size($"vals")))), 6).as("ewma"))
      .orderBy($"user_id", $"event_id")
  }
  private val q85Sql =
    """WITH w AS (SELECT user_id, event_id,
      |    list(value) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
      |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vals
      |  FROM events WHERE event_type = 'purchase')
      |SELECT user_id, event_id,
      |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(range(1, len(vals) + 1),
      |        i -> vals[i] * power(0.5, len(vals) - i))), (a, b) -> a + b)
      |    / (2.0 * (1.0 - power(0.5, len(vals)))), 6) AS ewma
      |FROM w ORDER BY user_id, event_id""".stripMargin

  /** q91: maximum drawdown per user over the purchase-value series — the
    * canonical risk metric: running peak via a cumulative-max window, then
    * the minimum of value/peak − 1. One shuffle on user_id; the running
    * max is order-deterministic under the (ts, event_id) total order. */
  private def q91(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.events(s, dir)
      .filter($"event_type" === "purchase" && $"value" > 0)
      .withColumn("peak", max($"value").over(w))
      .select($"user_id", round($"value" / $"peak" - 1.0, 6).as("dd"))
      .groupBy($"user_id")
      .agg(round(min($"dd"), 6).as("max_drawdown"), count(lit(1)).as("n_points"))
      .orderBy($"user_id")
  }
  private val q91Sql =
    """WITH s AS (SELECT user_id, epoch_ns(ts) AS tsn, event_id, value FROM events
      |  WHERE event_type = 'purchase' AND value > 0),
      |p AS (SELECT user_id, value,
      |    max(value) OVER (PARTITION BY user_id ORDER BY tsn, event_id
      |      ROWS UNBOUNDED PRECEDING) AS peak FROM s),
      |d AS (SELECT user_id, round(value / peak - 1.0, 6) AS dd FROM p)
      |SELECT user_id, round(min(dd), 6) AS max_drawdown, count(*) AS n_points
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  /** q92: monthly VWAP per part (volume-weighted average price — THE
    * market aggregation) through decimal sums so the weighted mean is
    * exact and partition-order-independent; restricted to a deterministic
    * 1-in-50 part sample to keep gate output bounded at every SF. */
  private def q92(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_partkey" % 50 === 0)
      .groupBy($"l_partkey", trunc($"l_shipdate", "month").as("ship_month"))
      .agg(
        round((sum(($"l_extendedprice" * $"l_quantity").cast("decimal(38,8)")).cast("double") /
          sum($"l_quantity".cast("decimal(28,10)")).cast("double")), 6).as("vwap"),
        sum($"l_quantity".cast("decimal(28,10)")).cast("long").as("total_qty"))
      .orderBy($"l_partkey", $"ship_month")
  }
  private val q92Sql =
    """SELECT l_partkey, date_trunc('month', l_shipdate) AS ship_month,
      |  round(CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(38,8))) AS DOUBLE)
      |    / CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE), 6) AS vwap,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS BIGINT) AS total_qty
      |FROM lineitem WHERE l_partkey % 50 = 0
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Daily mean price per sampled part over 1996, the shared base for the
    * gap-fill gates (q99/q100). The mean goes through a DECIMAL(38,8) sum
    * so it is exact and partition-order-independent — the fill arithmetic
    * downstream then starts from bit-identical inputs in both engines. */
  private def dailyPx(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_partkey" % 100 === 0 && year($"l_shipdate") === 1996)
      .groupBy($"l_partkey".as("p"), date_trunc("day", $"l_shipdate").as("day"))
      .agg(round(sum($"l_extendedprice".cast("decimal(38,8)")).cast("double") /
        count(lit(1)), 6).as("px"))
  }
  private val dailyPxSql =
    """SELECT l_partkey AS p, date_trunc('day', l_shipdate) AS day,
      |    round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,8))) AS DOUBLE)
      |      / count(*), 6) AS px
      |  FROM lineitem
      |  WHERE l_partkey % 100 = 0 AND year(l_shipdate) = 1996
      |  GROUP BY 1, 2""".stripMargin

  /** Sparse observations left-joined onto each part's full daily date
    * spine (per-key `sequence` + explode — linear in keys × range, never a
    * cross join, so it scales to any key count). */
  private def spineJoined(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = dailyPx(s, dir)
    val spine = daily.groupBy($"p")
      .agg(min($"day").as("mn"), max($"day").as("mx"))
      .select($"p", explode(expr("sequence(mn, mx, interval 1 day)")).as("day"))
    spine.join(daily, Seq("p", "day"), "left")
  }
  private val spineJoinedSql =
    s"""daily AS ($dailyPxSql),
      |bounds AS (SELECT p, min(day) AS mn, max(day) AS mx FROM daily GROUP BY 1),
      |spine AS (SELECT p, unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day
      |  FROM bounds),
      |j AS (SELECT s.p, s.day, d.px FROM spine s
      |  LEFT JOIN daily d ON s.p = d.p AND s.day = d.day)""".stripMargin

  /** q99: calendar gap-fill with last-observation-carried-forward — the
    * canonical market-data densification: build each part's full daily
    * spine between its first and last 1996 observation, then carry the
    * latest known price forward with an IGNORE NULLS running `last` over
    * one window sort per key. One agg + one equi-join + one window; every
    * stage is keyed on the part, so the plan re-partitions once and holds
    * at any key count. */
  private def q99(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"p").orderBy($"day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    spineJoined(s, dir)
      .select($"p", $"day",
        last($"px", ignoreNulls = true).over(w).as("px_locf"),
        $"px".isNull.cast("int").as("filled"))
      .orderBy($"p", $"day")
  }
  private val q99Sql =
    s"""WITH $spineJoinedSql
      |SELECT p, day,
      |  last_value(px IGNORE NULLS) OVER (PARTITION BY p ORDER BY day
      |    ROWS UNBOUNDED PRECEDING) AS px_locf,
      |  CAST(px IS NULL AS INT) AS filled
      |FROM j ORDER BY p, day""".stripMargin

  /** q100: time-weighted linear interpolation across the same gaps — each
    * missing day takes prev + (next − prev) · Δdays/span from the nearest
    * observations on either side (forward and backward IGNORE NULLS
    * windows over one sort; Catalyst shares the partitioning, the reverse
    * frame adds a second sort of the same partition, no extra shuffle).
    *
    * The blend runs in EXACT integer micro-price units, not doubles: the
    * 6-dp anchors lift to micro-longs, and the fractional step applies as
    * `floor((2·Δp·d1 + d2) / (2·d2))` — integer-exact round-half-up of
    * Δp·d1/d2 (all magnitudes ≪ 2⁵³, so the one double division is exact
    * on both sides of its inputs and correctly rounded). A double
    * formulation here is NOT engine-stable: even-day gaps make the true
    * value land exactly on the 6-dp half boundary, where Java's
    * shortest-string rounding and DuckDB's binary rounding disagree
    * (observed at sf0.1). Fixed-point is how market systems store prices
    * anyway. */
  private def q100(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val back = W.partitionBy($"p").orderBy($"day")
      .rowsBetween(W.unboundedPreceding, 0)
    val fwd = W.partitionBy($"p").orderBy($"day")
      .rowsBetween(0, W.unboundedFollowing)
    val d1 = datediff($"day", $"prev_day").cast("long")
    val d2 = datediff($"next_day", $"prev_day").cast("long")
    val blended = $"prev_p6" + floor(
      (($"next_p6" - $"prev_p6") * d1 * 2 + d2) / (d2 * lit(2.0))).cast("long")
    spineJoined(s, dir)
      .withColumn("p6", round($"px" * 1e6, 0).cast("long"))
      .withColumn("prev_p6", last($"p6", ignoreNulls = true).over(back))
      .withColumn("prev_day",
        last(when($"px".isNotNull, $"day"), ignoreNulls = true).over(back))
      .withColumn("next_p6", first($"p6", ignoreNulls = true).over(fwd))
      .withColumn("next_day",
        first(when($"px".isNotNull, $"day"), ignoreNulls = true).over(fwd))
      .select($"p", $"day", $"px",
        (when($"px".isNotNull, $"p6")
          .when($"prev_p6".isNull, $"next_p6")
          .when($"next_p6".isNull, $"prev_p6")
          .otherwise(blended) / lit(1000000.0)).as("px_interp"))
      .orderBy($"p", $"day")
  }
  private val q100Sql =
    s"""WITH $spineJoinedSql,
      |f AS (SELECT p, day, px,
      |    CAST(round(px * 1e6, 0) AS BIGINT) AS p6,
      |    last_value(CAST(round(px * 1e6, 0) AS BIGINT) IGNORE NULLS)
      |      OVER wb AS prev_p6,
      |    last_value(CASE WHEN px IS NOT NULL THEN day END IGNORE NULLS)
      |      OVER wb AS prev_day,
      |    first_value(CAST(round(px * 1e6, 0) AS BIGINT) IGNORE NULLS)
      |      OVER wf AS next_p6,
      |    first_value(CASE WHEN px IS NOT NULL THEN day END IGNORE NULLS)
      |      OVER wf AS next_day
      |  FROM j
      |  WINDOW wb AS (PARTITION BY p ORDER BY day ROWS UNBOUNDED PRECEDING),
      |    wf AS (PARTITION BY p ORDER BY day
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT p, day, px,
      |  CASE WHEN px IS NOT NULL THEN p6
      |    WHEN prev_p6 IS NULL THEN next_p6
      |    WHEN next_p6 IS NULL THEN prev_p6
      |    ELSE prev_p6 + CAST(floor(
      |      ((next_p6 - prev_p6) * date_diff('day', prev_day, day) * 2
      |        + date_diff('day', prev_day, next_day))
      |      / (date_diff('day', prev_day, next_day) * 2.0)) AS BIGINT)
      |  END / 1000000.0 AS px_interp
      |FROM f ORDER BY p, day""".stripMargin

  /** q127: first-order Markov transition matrix over each user's event
    * sequence — P(next event type | current), the session-behavior model.
    * Transitions come from one per-user LAG (partitioned window, one
    * shuffle on user); probabilities are a per-row double division of two
    * exact LONG counts (row totals via a second tiny aggregate joined back
    * on the current type — |event types| rows, broadcast). */
  private def q127(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val trans = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type".as("next"))
      .withColumn("cur", lag($"next", 1).over(w))
      .filter($"cur".isNotNull)
      .groupBy($"cur", $"next").agg(count(lit(1)).as("n_trans"))
    val totals = trans.groupBy($"cur").agg(sum($"n_trans").as("n_cur"))
    trans.join(broadcast(totals), "cur")
      .select($"cur", $"next", $"n_trans",
        round($"n_trans".cast("double") / $"n_cur".cast("double"), 6).as("prob"))
      .orderBy($"cur", $"next")
  }
  private val q127Sql =
    """WITH seq AS (SELECT event_type AS next,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_ns(ts), event_id) AS cur
      |  FROM events),
      |tr AS (SELECT cur, next, CAST(count(*) AS BIGINT) AS n_trans
      |  FROM seq WHERE cur IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT cur, CAST(sum(n_trans) AS BIGINT) AS n_cur FROM tr GROUP BY 1)
      |SELECT tr.cur, tr.next, tr.n_trans,
      |  round(CAST(n_trans AS DOUBLE) / n_cur, 6) AS prob
      |FROM tr JOIN tot ON tr.cur = tot.cur
      |ORDER BY tr.cur, tr.next""".stripMargin

  /** q128: rolling 7-day distinct active users. A windowed COUNT(DISTINCT)
    * cannot be composed from per-day partials (distinct is not summable),
    * so each (day, user) pair is expanded to the 7 window-ends it belongs
    * to — a BOUNDED 7x fan-out projection — then deduplicated and counted
    * per window end: two key-shuffles, no window function, no re-scan per
    * day. Window ends are kept to days that actually occur (inner join
    * with the day list), so the output is one row per observed day. */
  private def q128(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dayUsers = Tables.events(s, dir)
      .select(expr("ts div 86400000000000").as("day"), $"user_id")
      .distinct()
    val expanded = dayUsers
      .select(explode(sequence($"day", $"day" + 6L)).as("wend"), $"user_id")
      .distinct()
    val days = dayUsers.select($"day".as("wend")).distinct()
    expanded.join(days, "wend")
      .groupBy($"wend")
      .agg(count(lit(1)).as("n_active_7d"))
      .select($"wend".as("day"), $"n_active_7d")
      .orderBy($"day")
  }
  private val q128Sql =
    """WITH du AS (SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS day,
      |    user_id FROM events),
      |ex AS (SELECT DISTINCT day + t.i AS wend, user_id
      |  FROM du, UNNEST(range(0, 7)) AS t(i)),
      |days AS (SELECT DISTINCT day AS wend FROM du)
      |SELECT e.wend AS day, CAST(count(*) AS BIGINT) AS n_active_7d
      |FROM ex e JOIN days d ON e.wend = d.wend
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q133: cumulative daily order volume — the running-total report — and
    * the in-gate exercise of [[org.apache.spark.sql.graft.GlobalScanRewrite]]:
    * the query is written as the natural `SUM OVER (ORDER BY day)` and the
    * opt-in rule (enabled here; day keys are unique by construction of the
    * groupBy) rewrites the single-partition window into the two-level
    * distributed scan — range exchange, per-partition sums, broadcast
    * offsets. GlobalScanRewriteSpec asserts this query's optimized plan
    * took the rewrite; the oracle hash proves the rewrite is
    * answer-preserving on real data. The flag stays on for the session —
    * safe: no other gated query shapes an unpartitioned running LONG-sum
    * window (audited; the skyline/rank/Gini offset windows all use
    * exclusive UNBOUNDED..-1 frames, which the rule never touches). */
  private def q133(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.SessionRules.ensureOptimizerRule(s, org.apache.spark.sql.graft.GlobalScanRewrite)
    s.conf.set("spark.graft.rewrite.globalScan", "true")
    val daily = Tables.orders(s, dir)
      .groupBy(to_date($"o_orderdate").as("day"))
      .agg(count(lit(1)).as("n_orders"))
    val w = org.apache.spark.sql.expressions.Window.orderBy($"day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    daily.select($"day", $"n_orders", sum($"n_orders").over(w).as("cum_orders"))
      .orderBy($"day")
  }
  private val q133Sql =
    """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS n_orders
      |  FROM orders GROUP BY 1)
      |SELECT day, n_orders,
      |  CAST(sum(n_orders) OVER (ORDER BY day) AS BIGINT) AS cum_orders
      |FROM d ORDER BY day""".stripMargin

  /** q156: hour-of-day seasonal decomposition — the seasonal-index table
    * a monitoring/forecast pipeline derives before looking at trend:
    * per (event_type, hour-of-day UTC) the raw-row mean value, and its
    * deviation from the type's overall mean (the additive seasonal
    * component). Hours come from pure integer division of the ns
    * timestamp (no calendar/timezone library in the data path — the same
    * discipline as q21's µs sessionization). Money-style 2dp values sum
    * exactly in cents (LONG), so each emitted mean is a single division
    * of exact integers: order-independent, engine-identical. Two hash
    * aggs + one broadcast join of the |types|-row parent means — fully
    * parallel at any scale. */
  private def q156(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.events(s, dir)
      .select($"event_type",
        (expr("ts div 3600000000000") % 24L).as("hour_utc"),
        round($"value" * 100.0, 0).cast("long").as("cents"))
    val hourly = base.groupBy($"event_type", $"hour_utc")
      .agg(count(lit(1)).as("n_events"), sum($"cents").as("c"))
    val parent = base.groupBy($"event_type")
      .agg(sum($"cents").as("ct"), count(lit(1)).as("nt"))
    hourly.join(broadcast(parent), "event_type")
      .select($"event_type", $"hour_utc", $"n_events",
        round($"c" / ($"n_events" * 100.0), 6).as("seasonal_mean"),
        round($"c" / ($"n_events" * 100.0) - $"ct" / ($"nt" * 100.0), 6)
          .as("seasonal_residual"))
      .orderBy($"event_type", $"hour_utc")
  }
  private val q156Sql =
    """WITH base AS (SELECT event_type,
      |    (epoch_us(ts) // 3600000000) % 24 AS hour_utc,
      |    CAST(round(value * 100.0) AS BIGINT) AS cents
      |  FROM events),
      |hourly AS (SELECT event_type, hour_utc,
      |    CAST(count(*) AS BIGINT) AS n_events, CAST(sum(cents) AS BIGINT) AS c
      |  FROM base GROUP BY 1, 2),
      |parent AS (SELECT event_type,
      |    CAST(sum(cents) AS BIGINT) AS ct, CAST(count(*) AS BIGINT) AS nt
      |  FROM base GROUP BY 1)
      |SELECT h.event_type, h.hour_utc, h.n_events,
      |  round(h.c / (h.n_events * 100.0), 6) AS seasonal_mean,
      |  round(h.c / (h.n_events * 100.0) - p.ct / (p.nt * 100.0), 6)
      |    AS seasonal_residual
      |FROM hourly h JOIN parent p ON h.event_type = p.event_type
      |ORDER BY h.event_type, h.hour_utc""".stripMargin

  /** q178: RSI-14 (Cutler's variant) per user over the purchase-value
    * series. The SMA formulation is chosen over Wilder's recursive
    * smoothing deliberately: it is a pure 14-row window aggregate — one
    * shuffle on user_id, no sequential recurrence — so it scales like any
    * other window, while Wilder's EMA needs the q85 log-space trick.
    * Exactness: prices become integer cents, per-row deltas and their
    * clamped gain/loss parts are LONGs, the 14-row sums are exact, and the
    * only double op is the final 100*sg/(sg+sl) — a single IEEE division
    * identical in both engines. Rows need 14 full deltas (rn >= 15);
    * a flat window (sg+sl=0) pins RSI to 50 by convention on both sides. */
  private def q178(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wf = w.rowsBetween(-13, 0)
    Tables.events(s, dir)
      .filter($"event_type" === "purchase" && $"value" > 0)
      .select($"user_id", $"ts", $"event_id",
        round($"value" * 100.0, 0).cast("long").as("cents"))
      .withColumn("delta", $"cents" - lag($"cents", 1).over(w))
      .withColumn("rn", row_number().over(w))
      .withColumn("sg", sum(greatest($"delta", lit(0L))).over(wf))
      .withColumn("sl", sum(greatest(-$"delta", lit(0L))).over(wf))
      .filter($"rn" >= 15)
      .select($"user_id", $"event_id",
        when($"sg" + $"sl" === 0L, 50.0)
          .otherwise(round(lit(100.0) * $"sg" / ($"sg" + $"sl"), 6))
          .as("rsi_14"))
      .orderBy($"user_id", $"event_id")
  }
  private val q178Sql =
    """WITH px AS (
      |  SELECT user_id, epoch_us(ts) AS tsu, event_id,
      |    CAST(round(value * 100.0) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase' AND value > 0),
      |d AS (
      |  SELECT user_id, event_id,
      |    cents - lag(cents) OVER w AS delta,
      |    row_number() OVER w AS rn
      |  FROM px WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
      |f AS (
      |  SELECT user_id, event_id, rn,
      |    sum(greatest(delta, 0)) OVER w14 AS sg,
      |    sum(greatest(-delta, 0)) OVER w14 AS sl
      |  FROM d WINDOW w14 AS (PARTITION BY user_id ORDER BY rn
      |                        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT user_id, event_id,
      |  CASE WHEN sg + sl = 0 THEN 50.0
      |       ELSE round(100.0 * sg / (sg + sl), 6) END AS rsi_14
      |FROM f WHERE rn >= 15 ORDER BY user_id, event_id""".stripMargin

  /** q183: floor-at-zero running balance per user — purchases deposit
    * value, clicks withdraw it, and the balance never goes below zero
    * (the inventory/wallet clamp). The recurrence b_t = max(0, b_{t-1} +
    * x_t) LOOKS inherently sequential, but has a closed declarative form
    * by the reflection identity: b_t = S_t - min(0, min_{k<=t} S_k) where
    * S is the plain running sum. Two window aggregates over ONE exchange
    * and ONE sort (same partition + order), instead of a per-key
    * sequential fold — the difference between a window and an
    * unparallelizable UDF loop at 100 TB. Cents fixed point keeps every
    * intermediate exact; (ts, event_id) totally orders each user's flows. */
  private def q183(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.events(s, dir)
      .filter($"event_type".isin("purchase", "click"))
      .select($"user_id", $"ts", $"event_id",
        when($"event_type" === "purchase",
          round($"value" * 100.0, 0).cast("long"))
          .otherwise(-round($"value" * 100.0, 0).cast("long")).as("flow"))
      .withColumn("s", sum($"flow").over(w))
      .withColumn("m", min($"s").over(w))
      .select($"user_id", $"ts", $"event_id",
        ($"s" - least($"m", lit(0L))).as("bal"))
      .groupBy($"user_id")
      .agg(
        // (user_id, ts) is unique in events (pinned by q176), so the
        // single-key arg-max is deterministic
        round(max_by($"bal", $"ts") / 100.0, 2).as("final_balance"),
        round(max($"bal") / 100.0, 2).as("peak_balance"),
        count(lit(1)).as("n_flows"))
      .orderBy($"user_id")
  }
  private val q183Sql =
    """WITH flows AS (
      |  SELECT user_id, epoch_us(ts) AS tsu, event_id,
      |    CASE WHEN event_type = 'purchase'
      |         THEN CAST(round(value * 100.0) AS BIGINT)
      |         ELSE -CAST(round(value * 100.0) AS BIGINT) END AS flow
      |  FROM events WHERE event_type IN ('purchase', 'click')),
      |sums AS (
      |  SELECT user_id, tsu, event_id, sum(flow) OVER w AS s
      |  FROM flows WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |runs AS (
      |  SELECT user_id, tsu, s, min(s) OVER w AS m
      |  FROM sums WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id
      |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |bal AS (
      |  SELECT user_id, tsu, s - least(m, 0) AS bal FROM runs)
      |SELECT user_id,
      |  round(arg_max(bal, tsu) / 100.0, 2) AS final_balance,
      |  round(max(bal) / 100.0, 2) AS peak_balance,
      |  CAST(count(*) AS BIGINT) AS n_flows
      |FROM bal GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q190: semi-additive aggregation — the balance-style measure that
    * sums ACROSS entities but takes LAST-IN-PERIOD along time (the AUM /
    * inventory / account-balance rule every warehouse needs and naive
    * SUM gets wrong). Per (user, day) the closing value is a max_by on
    * the event time — (user_id, ts) is unique in this data (pinned by
    * q176), so the arg-max is deterministic without a composite
    * tie-break — then days roll up by plain addition. Two grouped
    * passes, both map-side combinable; no window, no sort. Active-day
    * semantics (a user with no events that day contributes nothing):
    * carry-forward would compose this with q99's calendar LOCF. */
  private def q190(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"user_id", expr("ts div 86400000000000").as("day"), $"ts",
        round($"value" * 100).cast("long").as("cents"))
      .groupBy($"user_id", $"day")
      .agg(max_by($"cents", $"ts").as("eod"))
      .groupBy($"day")
      .agg(count(lit(1)).as("n_active_users"),
        round(sum($"eod") / 100.0, 2).as("eod_total"))
      .orderBy($"day")
  }
  private val q190Sql =
    """WITH ev AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    epoch_us(ts) AS tsu,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |eod AS (
      |  SELECT user_id, day, arg_max(cents, tsu) AS eod
      |  FROM ev GROUP BY 1, 2)
      |SELECT day, CAST(count(*) AS BIGINT) AS n_active_users,
      |  round(sum(eod) / 100.0, 2) AS eod_total
      |FROM eod GROUP BY 1 ORDER BY 1""".stripMargin

  /** q191: time-weighted average price (TWAP) — each purchase price
    * weighted by how long it was the user's latest price (the financial
    * average that ignores trade clustering). The holding duration is
    * lead(ts) − ts from ONE window pass; weights are whole seconds
    * (ns div 1e9 ≡ DuckDB's µs // 1e6 — floors of the same real value on
    * the µs lattice, so the engines agree exactly), price·weight and
    * weight sums stay LONG (cents·seconds ≤ 5e11 per interval — no
    * overflow), and the TWAP is one IEEE division at the end. The last
    * observation has no forward duration and is excluded; zero-length
    * holdings carry zero weight. */
  private def q191(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, dir)
      .filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id",
        round($"value" * 100).cast("long").as("cents"))
      .withColumn("dur", lead($"ts", 1).over(w) - $"ts")
      .filter($"dur".isNotNull)
      .withColumn("dur_s", expr("dur div 1000000000"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum($"cents" * $"dur_s").as("wsum"), sum($"dur_s").as("wtot"))
      .filter($"wtot" > 0L)
      .select($"user_id", $"n_intervals",
        round($"wsum".cast("double") / $"wtot" / 100.0, 6).as("twap"))
      .orderBy($"user_id")
  }
  private val q191Sql =
    """WITH px AS (
      |  SELECT user_id, epoch_us(ts) AS tsu, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |d AS (
      |  SELECT user_id, cents,
      |    (lead(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
      |      - tsu) // 1000000 AS dur_s
      |  FROM px),
      |f AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
      |    CAST(sum(cents * dur_s) AS BIGINT) AS wsum,
      |    CAST(sum(dur_s) AS BIGINT) AS wtot
      |  FROM d WHERE dur_s IS NOT NULL GROUP BY 1)
      |SELECT user_id, n_intervals,
      |  round(CAST(wsum AS DOUBLE) / wtot / 100.0, 6) AS twap
      |FROM f WHERE wtot > 0 ORDER BY user_id""".stripMargin

  /** q230: decayed leaderboard — "what's trending": per (event_type,
    * user) activity value summed under a 1-day half-life, so yesterday
    * counts half of today and last month barely registers. The decay
    * weight is an exact POWER OF TWO (2^(30−age_days), ages beyond 30 d
    * decay to zero) — cents·weights sum as exact LONGs, so the ranking
    * never hinges on float decay (exp/pow are banned by the libm-free
    * determinism rule; a half-life IS the libm-free decay). The corpus
    * horizon (max day) enters as a 1-row broadcast on a derived-constant
    * key (q145 pattern); top-3 per event_type by (score desc, user asc)
    * is one window over type-bounded groups. */
  private def q230(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_type", $"user_id",
        expr("ts div 86400000000000").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val horizon = ev.agg(max($"day").as("maxday"))
      .withColumn("one", pmod($"maxday", lit(1L)) * lit(0L))
    val scored = ev.withColumn("one", pmod($"day", lit(1L)) * lit(0L))
      .join(broadcast(horizon), Seq("one"))
      .withColumn("age", $"maxday" - $"day")
      .where($"age" <= 30)
      .withColumn("w", expr("shiftleft(CAST(1 AS BIGINT), CAST(30 - age AS INT))"))
      .groupBy($"event_type", $"user_id")
      .agg(sum($"cents" * $"w").as("score_scaled"))
    val w = Window.partitionBy($"event_type")
      .orderBy($"score_scaled".desc, $"user_id")
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where($"rk" <= 3)
      .select($"event_type", $"rk", $"user_id",
        round($"score_scaled".cast("double") / (1L << 30).toDouble / 100.0, 6)
          .as("decayed_value"))
      .orderBy($"event_type", $"rk")
  }
  private val q230Sql =
    """WITH e AS (SELECT event_type, user_id,
      |    epoch_ns(ts) // 86400000000000 AS day,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |h AS (SELECT max(day) AS maxday FROM e),
      |s AS (SELECT event_type, user_id,
      |    CAST(sum(cents * (CAST(1 AS BIGINT) << (30 - (h.maxday - day))))
      |      AS BIGINT) AS score_scaled
      |  FROM e CROSS JOIN h
      |  WHERE h.maxday - day <= 30
      |  GROUP BY event_type, user_id),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY event_type
      |    ORDER BY score_scaled DESC, user_id) AS BIGINT) AS rk FROM s)
      |SELECT event_type, rk, user_id,
      |  round(CAST(score_scaled AS DOUBLE) / 1073741824.0 / 100.0, 6)
      |    AS decayed_value
      |FROM r WHERE rk <= 3 ORDER BY event_type, rk""".stripMargin

  /** q229: peak concurrency — the sweep-line max-overlap statistic
    * (capacity planning: "how many 10-minute sessions were ever open at
    * once, per event type"). Each event opens a half-open [ts, ts+10 min)
    * interval; endpoints become ±1 deltas and the running delta sum IS
    * the live-session count, so the peak is max(prefix sum). The scan
    * runs through `DistributedScan.prefixSums` ordered by
    * (type, t, delta) GLOBALLY — correct within each type without any
    * per-type partitioned window because every type's deltas sum to
    * zero, so the cumulative entering a type's first row is exactly 0
    * (no single-partition sort on a data-sized stream anywhere). The
    * delta tie-key orders −1 before +1 at equal timestamps: back-to-back
    * touching intervals are NOT concurrent (half-open semantics). The
    * oracle formulates it the OTHER way — a per-type partitioned window
    * — so the zero-base argument itself is what the hash compare
    * certifies. */
  private def q229(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val durNs = 600L * 1000000000L
    val ev = Tables.events(s, dir).select($"event_type", $"ts")
    val pts = ev.select($"event_type", $"ts".as("t"), lit(1L).as("delta"))
      .unionByName(ev.select($"event_type", ($"ts" + durNs).as("t"),
        lit(-1L).as("delta")))
    graft.operators.DistributedScan
      .prefixSums(pts, Seq(col("event_type"), col("t"), col("delta")), Seq("delta"))
      .groupBy($"event_type")
      .agg((count(lit(1)) / 2).cast("long").as("n_intervals"),
        max($"delta_cum").as("peak_concurrency"))
      .orderBy($"event_type")
  }
  private val q229Sql =
    """WITH e AS (SELECT event_type, epoch_ns(ts) AS t FROM events),
      |pts AS (SELECT event_type, t, CAST(1 AS BIGINT) AS delta FROM e
      |  UNION ALL
      |  SELECT event_type, t + 600000000000, CAST(-1 AS BIGINT) FROM e),
      |c AS (SELECT event_type,
      |    sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta
      |      ROWS UNBOUNDED PRECEDING) AS live
      |  FROM pts)
      |SELECT event_type,
      |  CAST(count(*) / 2 AS BIGINT) AS n_intervals,
      |  CAST(max(live) AS BIGINT) AS peak_concurrency
      |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q222: largest-triangle downsampling — the visualization-grade
    * decimation every tick dashboard runs before plotting (Steinarsson
    * 2013): per day bucket keep the point whose triangle with its raw
    * neighbors has the largest area, so spikes and reversals survive
    * where naive first/avg-per-bucket erases them. This is the
    * PARALLEL one-bucket variant (LTOB): anchors are each point's
    * immediate raw neighbors, not the previously SELECTED point — the
    * sequential dependency in textbook LTTB cannot shard, LTOB is one
    * lag/lead window + one per-bucket argmax. Twice-the-area is exact
    * LONG arithmetic over (µs, cents) — |Δx·Δy − Δx·Δy| ≲ 1e16 —
    * ranked with a (−area2, tsu) min-struct so ties pin to the
    * earliest point; bucket ends (first/last raw point per series)
    * have no two neighbors and are KEPT by convention (area2 NULL
    * ranks them first in their bucket, matching LTTB's always-keep-
    * endpoints rule when buckets align). */
  private def q222(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"tsu", $"event_id")
    val pts = Tables.events(s, dir)
      .select($"event_type", expr("ts div 1000").as("tsu"), $"event_id",
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("px", lag($"tsu", 1).over(w))
      .withColumn("py", lag($"cents", 1).over(w))
      .withColumn("nx", lead($"tsu", 1).over(w))
      .withColumn("ny", lead($"cents", 1).over(w))
      .withColumn("area2", abs(($"px" - $"nx") * ($"cents" - $"py") -
        ($"px" - $"tsu") * ($"py" - $"ny")))
      .withColumn("bucket", expr("tsu div 86400000000"))
    pts.groupBy($"event_type", $"bucket")
      .agg(min(struct((-coalesce($"area2", lit(Long.MaxValue))).as("na"),
        $"tsu".as("tsu"), $"event_id".as("eid"), $"cents".as("cents"))).as("m"))
      .select($"event_type", $"bucket", $"m.tsu".as("tsu"),
        $"m.eid".as("event_id"), $"m.cents".as("cents"))
      .orderBy($"event_type", $"bucket")
  }
  private val q222Sql =
    """WITH p AS (SELECT event_type, epoch_us(ts) AS tsu, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |n AS (SELECT *,
      |    lag(tsu) OVER w AS px, lag(cents) OVER w AS py,
      |    lead(tsu) OVER w AS nx, lead(cents) OVER w AS ny
      |  FROM p WINDOW w AS (PARTITION BY event_type ORDER BY tsu, event_id)),
      |a AS (SELECT event_type, tsu, event_id, cents,
      |    tsu // 86400000000 AS bucket,
      |    abs((px - nx) * (cents - py) - (px - tsu) * (py - ny)) AS area2
      |  FROM n),
      |r AS (SELECT *, row_number() OVER (PARTITION BY event_type, bucket
      |    ORDER BY coalesce(-area2, -9223372036854775807), tsu, event_id)
      |    AS rk FROM a)
      |SELECT event_type, bucket, tsu, event_id, cents
      |FROM r WHERE rk = 1 ORDER BY event_type, bucket""".stripMargin

  /** q240: segmented-trend changepoint — the single best two-piece linear
    * fit of the daily revenue series: the split day minimizing
    * SSE(left OLS) + SSE(right OLS), with both segments' slopes (the
    * trend-break detector behind "did growth bend here?"). One pass
    * builds day-grain (x = day ordinal, y = revenue); running windows
    * produce prefix sums of (1, x, x², y, xy, y²) — kept EXACT end to
    * end (x-moments BIGINT, money moments in cents / cents² DECIMAL(38,0))
    * so window-sum association cannot shift an ulp — then every candidate
    * split evaluates both segments' SSE in O(1) from prefix vs
    * total−prefix, closed-form: sse = vy − cxy²/vx on centered moments,
    * computed with IDENTICAL operation order in the oracle so the argmin
    * compares bit-equal doubles. Linear in the series, no join, one
    * bounded day-grain window (the series table is the day span, not the
    * fact table). Candidates keep ≥2 points per side. */
  private def q240(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val daily = Tables.orders(s, dir)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg((sum($"o_totalprice".cast(dec)) * 100).cast("long").as("cents"))
    val ord = Window.orderBy($"day")
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = daily
      .withColumn("x", row_number().over(ord).cast("long"))
      .withColumn("y2", ($"cents".cast(d19) * $"cents".cast(d19)).cast(d38))
      .select($"day", $"x", $"cents", $"y2",
        sum($"x").over(run).as("sx"),
        sum($"x" * $"x").over(run).as("sxx"),
        sum($"cents").over(run).as("sy"),
        sum($"x" * $"cents").over(run).as("sxy"),
        sum($"y2").over(run).as("syy"))
    val tot = pre.agg(max($"x").as("n_t"), max($"sx").as("sx_t"),
      max($"sxx").as("sxx_t"), max($"sy").as("sy_t"),
      max($"sxy").as("sxy_t"), max($"syy").as("syy_t"))
    def seg(n: Column, sx: Column, sxx: Column, sy: Column, sxy: Column,
            syy: Column): (Column, Column) = {
      val nd = n.cast("double")
      val sxd = sx.cast("double")
      val sxxd = sxx.cast("double")
      val syd = sy.cast("double") / 100.0
      val sxyd = sxy.cast("double") / 100.0
      val syyd = syy.cast("double") / 10000.0
      val vx = sxxd - sxd * sxd / nd
      val cxy = sxyd - sxd * syd / nd
      val vy = syyd - syd * syd / nd
      (cxy / vx, vy - cxy * cxy / vx)
    }
    val cand = pre.crossJoin(broadcast(tot))
      .filter($"x" >= 2 && $"x" <= $"n_t" - 2)
    val (slopeL, sseL) = seg($"x", $"sx", $"sxx", $"sy", $"sxy", $"syy")
    val (slopeR, sseR) = seg($"n_t" - $"x", $"sx_t" - $"sx",
      $"sxx_t" - $"sxx", $"sy_t" - $"sy", $"sxy_t" - $"sxy",
      $"syy_t" - $"syy")
    // sse at ~1e13 magnitude is emitted at INTEGER grain via floor, not
    // round(·, 2): at 5.6e13 a double's ulp is ~0.0078, so 2-dp rounding
    // boundaries (0.01 apart) sit inside the ulp ~78% of the time — and
    // Spark (BigDecimal HALF_UP on the shortest decimal repr) and DuckDB
    // (scaled-double) round the SAME double differently in that zone
    // (caught as a 1-ulp flip at sf0.001; the sf0.01/sf0.1 values simply
    // happened to land clear of a boundary). floor is the same
    // deterministic function of the bit-equal input on both engines and
    // its boundaries are 100× coarser.
    cand.select($"day".as("break_day"), $"x".cast("long").as("n_left"),
        ($"n_t" - $"x").cast("long").as("n_right"),
        round(slopeL, 6).as("slope_left"), round(slopeR, 6).as("slope_right"),
        floor(sseL + sseR).cast("long").as("sse"))
      .orderBy($"sse", $"break_day")
      .limit(1)
  }
  private val q240Sql =
    """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |pre AS (SELECT day,
      |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS x,
      |    cents, CAST(cents AS HUGEINT) * cents AS y2
      |  FROM daily),
      |rs AS (SELECT day, x,
      |    sum(x) OVER w AS sx, sum(x * x) OVER w AS sxx,
      |    sum(cents) OVER w AS sy, sum(x * cents) OVER w AS sxy,
      |    sum(y2) OVER w AS syy
      |  FROM pre
      |  WINDOW w AS (ORDER BY x ROWS UNBOUNDED PRECEDING)),
      |tot AS (SELECT max(x) AS n_t, max(sx) AS sx_t, max(sxx) AS sxx_t,
      |    max(sy) AS sy_t, max(sxy) AS sxy_t, max(syy) AS syy_t FROM rs),
      |cand AS (SELECT rs.*, t.* FROM rs, tot t
      |  WHERE x >= 2 AND x <= n_t - 2),
      |sc AS (SELECT day, x, n_t,
      |    (CAST(sxy AS DOUBLE) / 100.0
      |       - CAST(sx AS DOUBLE) * (CAST(sy AS DOUBLE) / 100.0)
      |         / CAST(x AS DOUBLE))
      |      / (CAST(sxx AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
      |           / CAST(x AS DOUBLE)) AS slope_l,
      |    (CAST(syy AS DOUBLE) / 10000.0
      |       - (CAST(sy AS DOUBLE) / 100.0) * (CAST(sy AS DOUBLE) / 100.0)
      |         / CAST(x AS DOUBLE))
      |      - (CAST(sxy AS DOUBLE) / 100.0
      |         - CAST(sx AS DOUBLE) * (CAST(sy AS DOUBLE) / 100.0)
      |           / CAST(x AS DOUBLE))
      |        * (CAST(sxy AS DOUBLE) / 100.0
      |           - CAST(sx AS DOUBLE) * (CAST(sy AS DOUBLE) / 100.0)
      |             / CAST(x AS DOUBLE))
      |        / (CAST(sxx AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
      |             / CAST(x AS DOUBLE)) AS sse_l,
      |    (CAST(sxy_t - sxy AS DOUBLE) / 100.0
      |       - CAST(sx_t - sx AS DOUBLE)
      |         * (CAST(sy_t - sy AS DOUBLE) / 100.0)
      |         / CAST(n_t - x AS DOUBLE))
      |      / (CAST(sxx_t - sxx AS DOUBLE)
      |         - CAST(sx_t - sx AS DOUBLE) * CAST(sx_t - sx AS DOUBLE)
      |           / CAST(n_t - x AS DOUBLE)) AS slope_r,
      |    (CAST(syy_t - syy AS DOUBLE) / 10000.0
      |       - (CAST(sy_t - sy AS DOUBLE) / 100.0)
      |         * (CAST(sy_t - sy AS DOUBLE) / 100.0)
      |         / CAST(n_t - x AS DOUBLE))
      |      - (CAST(sxy_t - sxy AS DOUBLE) / 100.0
      |         - CAST(sx_t - sx AS DOUBLE)
      |           * (CAST(sy_t - sy AS DOUBLE) / 100.0)
      |           / CAST(n_t - x AS DOUBLE))
      |        * (CAST(sxy_t - sxy AS DOUBLE) / 100.0
      |           - CAST(sx_t - sx AS DOUBLE)
      |             * (CAST(sy_t - sy AS DOUBLE) / 100.0)
      |             / CAST(n_t - x AS DOUBLE))
      |        / (CAST(sxx_t - sxx AS DOUBLE)
      |           - CAST(sx_t - sx AS DOUBLE) * CAST(sx_t - sx AS DOUBLE)
      |             / CAST(n_t - x AS DOUBLE)) AS sse_r
      |  FROM cand)
      |SELECT day AS break_day, x AS n_left, n_t - x AS n_right,
      |  round(slope_l, 6) AS slope_left, round(slope_r, 6) AS slope_right,
      |  CAST(floor(sse_l + sse_r) AS BIGINT) AS sse
      |FROM sc ORDER BY sse, break_day LIMIT 1""".stripMargin

  /** q243: seasonality-adjusted anomaly days — daily revenue scored
    * against its OWN day-of-week cohort (raw z-scores on weekly-seasonal
    * series flag every weekend; deseasonalizing by dow is the standard
    * fix): day d is anomalous when |revenue − mean_dow| > 2·sd_dow. The
    * dow key is epoch-day mod 7 (identical integers on both engines — no
    * locale-sensitive DOW function), cohort moments are exact cents /
    * cents² sums, and z evaluates with the same operation order in the
    * oracle, rounded at 6 dp. One day-grain aggregate + one broadcast
    * join against the 7-row stats table. */
  private def q243(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = Tables.orders(s, dir)
      .groupBy($"o_orderdate".cast("date").as("day"))
      .agg((sum($"o_totalprice".cast(dec)) * 100).cast("long").as("cents"))
      .withColumn("dow", pmod(unix_date($"day").cast("long"), lit(7L)))
    val stats = daily.groupBy($"dow").agg(
      count(lit(1)).as("n"), sum($"cents").as("sx"),
      sum(($"cents".cast(d19) * $"cents".cast(d19)).cast(d38)).as("sxx"))
    val yd = $"cents".cast("double") / 100.0
    val sxd = $"sx".cast("double") / 100.0
    val sxxd = $"sxx".cast("double") / 10000.0
    val nd = $"n".cast("double")
    val v = (sxxd - sxd * sxd / nd) / (nd - 1.0)
    val z = (yd - sxd / nd) / sqrt(v)
    daily.join(broadcast(stats), "dow")
      .filter($"n" > 1 && v > 0 && abs(z) > 2)
      .select($"day", $"dow", round(yd, 2).as("revenue"),
        round(z, 6).as("z"))
      .orderBy($"day")
  }
  private val q243Sql =
    """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |d2 AS (SELECT day, cents,
      |    (day - DATE '1970-01-01') % 7 AS dow FROM daily),
      |st AS (SELECT dow, count(*) AS n, sum(cents) AS sx,
      |    sum(CAST(cents AS HUGEINT) * cents) AS sxx
      |  FROM d2 GROUP BY 1),
      |sc AS (SELECT d2.day, d2.dow,
      |    CAST(d2.cents AS DOUBLE) / 100.0 AS yd,
      |    CAST(st.sx AS DOUBLE) / 100.0 AS sxd,
      |    CAST(st.sxx AS DOUBLE) / 10000.0 AS sxxd,
      |    CAST(st.n AS DOUBLE) AS nd, st.n AS n
      |  FROM d2 JOIN st ON d2.dow = st.dow)
      |SELECT day, CAST(dow AS BIGINT) AS dow, round(yd, 2) AS revenue,
      |  round((yd - sxd / nd)
      |    / sqrt((sxxd - sxd * sxd / nd) / (nd - 1.0)), 6) AS z
      |FROM sc
      |WHERE n > 1 AND (sxxd - sxd * sxd / nd) / (nd - 1.0) > 0
      |  AND abs((yd - sxd / nd)
      |    / sqrt((sxxd - sxd * sxd / nd) / (nd - 1.0))) > 2
      |ORDER BY day""".stripMargin

  /** q267: Holt linear-trend forecast per event type — double
    * exponential smoothing over the daily revenue series, extending
    * q85's EWMA (level only) with a trend term: the one-step-ahead
    * forecast a capacity/revenue dashboard actually wants. Dyadic
    * smoothing (α = β = ½) keeps the recurrence exact in integer cents:
    * l_t = (y_t + l_{t−1} + b_{t−1}) div 2, b_t = (l_t − l_{t−1} +
    * b_{t−1}) div 2 — truncating division agreed between engines (q95
    * precedent, negatives included). The data-sized step is the daily
    * aggregation; the series itself is calendar×type-bounded, so the
    * fold runs on the driver over a bounded collect (the q259 transition-
    * matrix discipline) while the oracle replays the identical recurrence
    * as a recursive CTE over the row-numbered series. */
  private def q267(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy($"event_type", expr("ts div 86400000000000").as("day"))
      .agg(sum(round($"value" * 100).cast("long")).as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val rows = daily.groupBy(_._1).toSeq.map { case (tpe, rs) =>
      val ys = rs.sortBy(_._2).map(_._3)
      var l = ys.head
      var b = 0L
      ys.tail.foreach { y =>
        val lPrev = l
        l = (y + lPrev + b) / 2
        b = (l - lPrev + b) / 2
      }
      (tpe, ys.length.toLong, l, b, l + b)
    }
    rows.toDF("event_type", "n_days", "level_cents", "trend_cents",
        "forecast_cents")
      .orderBy($"event_type")
  }
  private val q267Sql =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |ser AS (SELECT event_type, cents,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM daily),
      |n AS (SELECT event_type, CAST(max(rn) AS BIGINT) AS n_days FROM ser
      |  GROUP BY 1),
      |st(event_type, rn, l, b) AS (
      |  SELECT event_type, rn, cents, CAST(0 AS BIGINT) FROM ser WHERE rn = 1
      |  UNION ALL
      |  SELECT s.event_type, s.rn,
      |    (s.cents + st.l + st.b) // 2,
      |    ((s.cents + st.l + st.b) // 2 - st.l + st.b) // 2
      |  FROM st JOIN ser s
      |    ON s.event_type = st.event_type AND s.rn = st.rn + 1)
      |SELECT st.event_type, n.n_days, st.l AS level_cents,
      |  st.b AS trend_cents, st.l + st.b AS forecast_cents
      |FROM st JOIN n ON st.event_type = n.event_type AND st.rn = n.n_days
      |ORDER BY st.event_type""".stripMargin

  /** q287: forecast backtest — the eval q267's forecaster needs before
    * anyone trusts it: on each event type's daily-revenue series, score
    * naive (previous observation) against seasonal-naive (7 observations
    * back) on the last 7 observed days by MAE, in integer cents
    * end-to-end (|actual − pred| summed exactly, one integer division —
    * no float ever enters). Holdout rows count only where BOTH baselines
    * have a prediction (lag-7 exists), so the comparison is paired;
    * winner ties break to 'tie'. The series is calendar×type-bounded,
    * the lags are per-type windows — one shuffle on event_type. */
  private def q287(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy($"event_type", expr("ts div 86400000000000").as("day"))
      .agg(sum(round($"value" * 100).cast("long")).as("cents"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val lagged = daily
      .withColumn("p_naive", lag($"cents", 1).over(w))
      .withColumn("p_snaive", lag($"cents", 7).over(w))
      .withColumn("rn_desc", row_number().over(
        Window.partitionBy($"event_type").orderBy($"day".desc)))
    lagged.filter($"rn_desc" <= 7 && $"p_snaive".isNotNull)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"),
        expr("sum(abs(cents - p_naive)) div count(1)").as("mae_naive_cents"),
        expr("sum(abs(cents - p_snaive)) div count(1)").as("mae_snaive_cents"))
      .withColumn("winner",
        when($"mae_naive_cents" < $"mae_snaive_cents", "naive")
          .when($"mae_snaive_cents" < $"mae_naive_cents", "seasonal_naive")
          .otherwise("tie"))
      .orderBy($"event_type")
  }
  private val q287Sql =
    """WITH daily AS (SELECT event_type,
      |    epoch_ns(ts) // 86400000000000 AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |lagged AS (SELECT event_type, day, cents,
      |    lag(cents, 1) OVER (PARTITION BY event_type ORDER BY day) AS p_naive,
      |    lag(cents, 7) OVER (PARTITION BY event_type ORDER BY day) AS p_snaive,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day DESC) AS rd
      |  FROM daily),
      |h AS (SELECT event_type,
      |    CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(abs(cents - p_naive)) // count(*) AS BIGINT) AS mae_naive_cents,
      |    CAST(sum(abs(cents - p_snaive)) // count(*) AS BIGINT) AS mae_snaive_cents
      |  FROM lagged WHERE rd <= 7 AND p_snaive IS NOT NULL
      |  GROUP BY 1)
      |SELECT event_type, n_days, mae_naive_cents, mae_snaive_cents,
      |  CASE WHEN mae_naive_cents < mae_snaive_cents THEN 'naive'
      |    WHEN mae_snaive_cents < mae_naive_cents THEN 'seasonal_naive'
      |    ELSE 'tie' END AS winner
      |FROM h ORDER BY event_type""".stripMargin

  /** q314: greedy ACTIVITY SELECTION — per user, the maximum set of
    * non-overlapping sessions, built earliest-END-first (the exchange
    * argument makes this greedy OPTIMAL for unweighted intervals — the
    * one classic scheduling primitive the interval gates don't cover:
    * q200 measures coverage, q229 concurrency, q73 packs by budget; this
    * SELECTS a conflict-free schedule, the shape of ad-slot / machine-
    * window / rate-limited-crawl allocation). Intervals derive from
    * events: start = ts µs, duration = (1 + event_id % 7)·10 min, so
    * durations vary deterministically and the earliest-end choice is not
    * degenerate. 5 bounded rounds (≤5 picks/user — the q259
    * bounded-rounds discipline); each round picks min(end, start,
    * event_id) — a total order — among intervals starting at or after
    * the user's cursor, then advances the cursor to the picked end.
    * Touching starts do NOT conflict ([a,b) ∪ [b,c)).
    *
    * Scale shape: intervals pinned once; per round one broadcast-able
    * cursor join on user_id plus one partial-combinable min-struct
    * aggregate; cursors shrink as users exhaust their intervals, and the
    * oracle unrolls the same 5 rounds as MATERIALIZED CTEs. */
  private def q314(s: SparkSession, dir: String): DataFrame = Pins.scope(s) { pins =>
    import s.implicits._
    val rounds = 5
    val iv = pins(Tables.events(s, dir)
      .select($"user_id", $"event_id", expr("ts div 1000").as("start_us"))
      .withColumn("end_us",
        $"start_us" + (lit(1L) + pmod($"event_id", lit(7L))) * lit(600000000L)))
    var cursors = pins(iv.select($"user_id").distinct()
      .withColumn("cur", lit(Long.MinValue)))
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (r <- 1 to rounds) {
      val pick = pins(iv.join(cursors, Seq("user_id"))
        .filter($"start_us" >= $"cur")
        .groupBy($"user_id")
        .agg(min(struct($"end_us", $"start_us", $"event_id")).as("p"))
        .select($"user_id", $"p.event_id".as("event_id"),
          $"p.start_us".as("start_us"), $"p.end_us".as("end_us")))
      out += pick.select($"user_id", lit(r.toLong).as("pick_no"),
        $"event_id", $"start_us", $"end_us")
      cursors = pins(pick.select($"user_id", $"end_us".as("cur")))
      pins.sweep(Seq(iv, cursors) ++ out: _*)
    }
    out.reduce(_ unionAll _).orderBy($"user_id", $"pick_no")
  }
  private val q314Sql = {
    val rounds = (1 to 5).map { r =>
      val src = if (r == 1) "iv"
      else s"(SELECT iv.* FROM iv JOIN p${r - 1} c ON iv.user_id = c.user_id " +
        s"WHERE iv.start_us >= c.end_us)"
      s"""p$r AS MATERIALIZED (SELECT user_id, event_id, start_us, end_us
         |  FROM (SELECT t.*, row_number() OVER (PARTITION BY user_id
         |      ORDER BY end_us, start_us, event_id) AS rk
         |    FROM $src t) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val out = (1 to 5).map(r =>
      s"SELECT user_id, CAST($r AS BIGINT) AS pick_no, event_id, " +
        s"start_us, end_us FROM p$r").mkString("\nUNION ALL\n")
    s"""WITH iv AS MATERIALIZED (SELECT user_id, event_id,
       |    epoch_ns(ts) // 1000 AS start_us,
       |    epoch_ns(ts) // 1000 + (1 + event_id % 7) * 600000000 AS end_us
       |  FROM events),
       |$rounds
       |$out
       |ORDER BY user_id, pick_no""".stripMargin
  }

  /** q308: OFFLINE changepoint detection — binary segmentation's first
    * split (the recursion base of PELT/BinSeg): per metric series, the
    * split k maximizing the SSE reduction, which for a single split
    * collapses to maximizing (S1·(n−k) − S2·k)² / (k·(n−k)) over the
    * cents-quantized prefix sums (the q189 daily-cells idiom; S1/S2 are
    * left/right segment sums). This is the RETROSPECTIVE complement of
    * q189's online CUSUM alarm: CUSUM answers "is it drifting now?",
    * this answers "when did the level shift?".
    *
    * Exactness: the argmax never divides — candidate k beats candidate j
    * iff A_k·B_j > A_j·B_k (cross-multiplied DECIMAL(38,0); magnitudes
    * ≤ ~10²⁵ at the ×10 rehearsal, audited), ties to the earlier split,
    * evaluated as an anti-join against a dominating sibling. Both engines
    * replay the identical integer dominance test (DuckDB in HUGEINT), so
    * the hash pins split day, gain numerator, and denominator exactly.
    *
    * Scale shape: one grouped pass reduces the corpus to |series|×|days|
    * daily cells; everything after (windows, the n² dominance kernel) is
    * CALENDAR-BOUNDED per series (n ≤ days, so n² is a constant at any
    * corpus size) and linear in series count — the q189/q262 "grid-bounded
    * tail" discipline. */
  private def q308(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = Tables.events(s, dir)
      .groupBy($"event_type", pmod($"user_id", lit(20L)).as("bucket"),
        expr("ts div 86400000000000").as("day"))
      .agg(sum(round($"value" * 100).cast("long")).as("x"))
    val wS = Window.partitionBy($"event_type", $"bucket")
    val wRun = wS.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cand = cells
      .withColumn("k", row_number().over(wS.orderBy($"day")).cast("long"))
      .withColumn("n", count(lit(1)).over(wS))
      .withColumn("s1", sum($"x").over(wRun))
      .withColumn("stot", sum($"x").over(wS))
      .filter($"k" < $"n")
      .select($"event_type", $"bucket", $"day", $"k", $"n",
        (($"s1" * ($"n" - $"k") - ($"stot" - $"s1") * $"k")
          .cast("decimal(38,0)") *
          ($"s1" * ($"n" - $"k") - ($"stot" - $"s1") * $"k")
            .cast("decimal(38,0)")).as("a"),
        ($"k" * ($"n" - $"k")).as("b"))
    val beaten = cand.as("c").join(cand.as("j"),
      $"c.event_type" === $"j.event_type" && $"c.bucket" === $"j.bucket" &&
        ($"j.a" * $"c.b" > $"c.a" * $"j.b" ||
          ($"j.a" * $"c.b" === $"c.a" * $"j.b" && $"j.k" < $"c.k")),
      "leftanti")
    // gain_num can reach ~1e25 — far past 2^53. Raw DECIMAL(38,0) is
    // exact in parquet but DuckDB's pandas surface coerces DECIMAL(38,0)
    // to float64 and rounds it, so the driver hash diverged (r8's only
    // red gate). Emit it as VARCHAR on BOTH sides: the dominance argmax
    // above stays exact-integer; only the reported surface changes.
    beaten
      .select($"event_type", $"bucket", $"day".as("split_day"), $"n",
        $"a".cast("string").as("gain_num"), $"b".as("gain_den"))
      .orderBy($"event_type", $"bucket")
  }
  private val q308Sql =
    """WITH cells AS MATERIALIZED (
      |  SELECT event_type, user_id % 20 AS bucket,
      |    epoch_us(ts) // 86400000000 AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2, 3),
      |w AS (SELECT event_type, bucket, day,
      |    CAST(row_number() OVER win AS BIGINT) AS k,
      |    CAST(count(*) OVER (PARTITION BY event_type, bucket) AS BIGINT) AS n,
      |    sum(x) OVER (win ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS s1,
      |    sum(x) OVER (PARTITION BY event_type, bucket) AS stot
      |  FROM cells
      |  WINDOW win AS (PARTITION BY event_type, bucket ORDER BY day)),
      |cand AS MATERIALIZED (SELECT event_type, bucket, day, k, n,
      |    CAST(s1 * (n - k) - (stot - s1) * k AS HUGEINT)
      |      * CAST(s1 * (n - k) - (stot - s1) * k AS HUGEINT) AS a,
      |    k * (n - k) AS b
      |  FROM w WHERE k < n)
      |SELECT c.event_type, c.bucket, c.day AS split_day, c.n,
      |  CAST(CAST(c.a AS DECIMAL(38,0)) AS VARCHAR) AS gain_num,
      |  c.b AS gain_den
      |FROM cand c
      |WHERE NOT EXISTS (SELECT 1 FROM cand j
      |  WHERE j.event_type = c.event_type AND j.bucket = c.bucket
      |    AND (j.a * CAST(c.b AS HUGEINT) > c.a * CAST(j.b AS HUGEINT)
      |      OR (j.a * CAST(c.b AS HUGEINT) = c.a * CAST(j.b AS HUGEINT)
      |          AND j.k < c.k)))
      |ORDER BY c.event_type, c.bucket""".stripMargin

  override def queries: Seq[QueryDef] = Seq(
    QueryDef("q267_holt_forecast", q267, Some(q267Sql)),
    QueryDef("q287_forecast_backtest", q287, Some(q287Sql)),
    QueryDef("q50_asof_join", q50, Some(q50Sql)),
    QueryDef("q308_changepoint", q308, Some(q308Sql)),
    QueryDef("q314_activity_selection", q314, Some(q314Sql)),
    QueryDef("q240_segmented_trend", q240, Some(q240Sql)),
    QueryDef("q243_seasonal_anomaly", q243, Some(q243Sql)),
    QueryDef("q222_lttb_downsample", q222, Some(q222Sql)),
    QueryDef("q51_ohlc_resample", q51, Some(q51Sql)),
    QueryDef("q85_ewma", q85, Some(q85Sql)),
    QueryDef("q91_max_drawdown", q91, Some(q91Sql)),
    QueryDef("q92_monthly_vwap", q92, Some(q92Sql)),
    QueryDef("q99_gapfill_locf", q99, Some(q99Sql)),
    QueryDef("q100_interpolate", q100, Some(q100Sql)),
    QueryDef("q110_asof_forward", q110, Some(q110Sql)),
    QueryDef("q127_markov_transitions", q127, Some(q127Sql)),
    QueryDef("q128_rolling_active_users", q128, Some(q128Sql)),
    QueryDef("q133_running_total", q133, Some(q133Sql)),
    QueryDef("q156_seasonal_index", q156, Some(q156Sql)),
    QueryDef("q178_rsi", q178, Some(q178Sql)),
    QueryDef("q183_capped_balance", q183, Some(q183Sql)),
    QueryDef("q190_eod_balance", q190, Some(q190Sql)),
    QueryDef("q191_twap", q191, Some(q191Sql)),
    QueryDef("q200_interval_coverage", q200, Some(q200Sql)),
    QueryDef("q229_peak_concurrency", q229, Some(q229Sql)),
    QueryDef("q230_decayed_leaderboard", q230, Some(q230Sql)),
  )

  /** q200: interval-union coverage — total time covered by the UNION of
    * overlapping intervals per user (uptime / utilization / SLA math),
    * where naive duration sums double-count overlaps. Each event covers
    * [ts, ts+5min); the sweep identity turns the union into one window
    * pass: an interval's NEW contribution is end − max(start, maxEndSoFar)
    * clamped at zero, where maxEndSoFar is a running max over earlier
    * intervals — sum of contributions IS the union length, exactly, in
    * integer ns. Blocks (maximal merged runs) fall out of the same pass:
    * a new block starts iff the start strictly clears every earlier end
    * (touching half-open intervals merge). One exchange+sort on user_id;
    * no self-join, no island re-aggregation round trip. */
  private def q200(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h = 300L * 1000000000L // 5 min in ns
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id")
      .withColumn("pme", max($"ts" + h).over(w))
      .withColumn("covered",
        greatest($"ts" + lit(h) - greatest($"ts", coalesce($"pme", $"ts")), lit(0L)))
      .withColumn("blk",
        ($"pme".isNull || $"pme" < $"ts").cast("long"))
      .groupBy($"user_id")
      .agg(expr("sum(covered) div 1000").as("covered_us"),
        sum($"blk").as("n_blocks"),
        count(lit(1)).as("n_events"))
      .orderBy($"user_id")
  }
  private val q200Sql =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events),
      |m AS (
      |  SELECT user_id, tsu,
      |    max(tsu + 300000000) OVER (PARTITION BY user_id
      |      ORDER BY tsu, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      |  FROM e),
      |c AS (
      |  SELECT user_id,
      |    greatest(tsu + 300000000 - greatest(tsu, coalesce(pme, tsu)), 0)
      |      AS covered,
      |    CASE WHEN pme IS NULL OR pme < tsu THEN 1 ELSE 0 END AS blk
      |  FROM m)
      |SELECT user_id, CAST(sum(covered) AS BIGINT) AS covered_us,
      |  CAST(sum(blk) AS BIGINT) AS n_blocks,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** q110: FORWARD as-of join — each click joined to the user's earliest
    * error at or after it ("time to next failure"), the mirror of q50's
    * backward direction, via [[AsOfJoin.forward]]'s reversed-frame union
    * window (same single shuffle on the key). DuckDB's ASOF JOIN is
    * backward-only, so the oracle states the semantics directly as a
    * LATERAL minimum — which is also the proof the operator composition
    * implements exactly "earliest right ≥ left". */
  private def q110(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).withColumn("tsu", expr("ts div 1000"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"tsu", $"event_id", $"value")
    val errors = ev.filter($"event_type" === "error")
      .select($"user_id", $"tsu", $"value")
    AsOfJoin.forward(clicks, errors, key = "user_id", time = "tsu",
        rightCols = Map("value" -> "next_err_value", "tsu" -> "next_err_tsu"))
      .select($"user_id", $"tsu", $"event_id", $"value",
        $"next_err_value", $"next_err_tsu")
      .orderBy($"user_id", $"event_id")
  }
  private val q110Sql =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type, value FROM events),
      |clicks AS (SELECT user_id, tsu, event_id, value FROM e WHERE event_type = 'click'),
      |errors AS (SELECT user_id, tsu, value FROM e WHERE event_type = 'error')
      |SELECT c.user_id, c.tsu, c.event_id, c.value,
      |  n.next_err_value, n.next_err_tsu
      |FROM clicks c LEFT JOIN LATERAL (
      |  SELECT er.value AS next_err_value, er.tsu AS next_err_tsu
      |  FROM errors er WHERE er.user_id = c.user_id AND er.tsu >= c.tsu
      |  ORDER BY er.tsu LIMIT 1) n ON TRUE
      |ORDER BY c.user_id, c.event_id""".stripMargin
}
