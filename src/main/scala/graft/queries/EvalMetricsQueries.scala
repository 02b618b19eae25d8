package graft.queries

import graft.{QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Evaluation metrics a training-data/retrieval pipeline runs over its own
  * outputs: ranking quality (nDCG@k, MRR), ranking agreement (rank-biased
  * overlap), cohort survival (Kaplan-Meier product-limit), and a
  * deterministic bootstrap confidence interval.
  *
  * Float-determinism strategy: wherever a textbook formula needs an
  * irrational weight table (1/log2(pos+1), p^d/d), the weights are
  * INTEGER LITERALS baked identically into the Spark plan and the oracle
  * SQL (scaled 1e6 / 1e12) — per-row arithmetic is then exact and the
  * hash compare needs no float tolerance at all. Where a genuinely
  * data-dependent transcendental is unavoidable (ln in Kaplan-Meier and
  * Adamic-Adar), the result is rounded to 6 dp — double error across
  * ≤a few hundred accumulated terms is ~1e-12, five orders of magnitude
  * under the rounding grain.
  *
  * Scale notes (100 TB posture):
  *   - q234/q235 are one window pass per ranking over the grouping key
  *     (source/lang) — the partition sort is the cost; nothing global.
  *   - q237 groups to per-user rows (one shuffle), then the KM recurrence
  *     runs on the DURATION-grain table whose cardinality is bounded by
  *     the day span, not the user count — the single-partition window on
  *     it is a few hundred rows by construction.
  *   - q238 is the m-out-of-n bootstrap: the draw table is B·n rows
  *     equi-joined on the row index — linear, distributed, no driver
  *     loop. The global row index is a DistributedScan.rowNumbers
  *     two-level scan (range-partitioned local ranks + broadcast
  *     offsets), never a single-partition window; the gated scale path
  *     is q246's Poisson bootstrap, which needs no index at all. The
  *     LCG is demonstration-grade and would be a splitmix at production.
  */
object EvalMetricsQueries extends QueryModule {

  /** round(1e6 / log2(pos+1)) for pos = 1..10 — identical literals in the
    * oracle, so DCG sums are pure integers. */
  private val ndcgW = Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
    356207L, 333333L, 315465L, 301030L, 289065L)

  /** Suffix-summed RBO weights, SW(m) = Σ_{d=m..20} round(1e12·(1−p)/p·p^d/d)
    * at p = 0.9: an item whose worse rank is m sits in both depth-d prefixes
    * for every d ≥ m, so its total RBO contribution is this suffix sum —
    * the whole metric collapses to ONE pass over items. */
  private val rboSW = Seq(251483303740L, 151483303740L, 106483303740L,
    79483303740L, 61258303740L, 48136303740L, 38294803740L, 30702789454L,
    24724078204L, 19941109204L, 16066904314L, 12897100313L, 10282012012L,
    8109477116L, 6293858667L, 4768739170L, 3481919594L, 2391907718L,
    1465397624L, 675425859L)

  /** q234: nDCG@10 + MRR per source — the ranking-eval pass every retrieval
    * stack runs on its judged lists. Each `source` is a query; its docs are
    * ranked by (n_chars DESC, doc_id) and carry a graded relevance
    * doc_id % 4 ∈ {0..3}. Gains are (2^rel − 1); position discounts are the
    * integer literal table (see [[ndcgW]]), so DCG and ideal-DCG are exact
    * BIGINTs and nDCG is a single double division rounded at 6 dp. MRR is
    * reported as the exact first relevant position (rel ≥ 2) plus its
    * reciprocal. Ideal ranking ties (equal rel) cannot change IDCG: only
    * the rel multiset of the top 10 enters the sum. */
  private def q234(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byScore = Window.partitionBy($"source")
      .orderBy($"n_chars".desc, $"doc_id")
    val byRel = Window.partitionBy($"source")
      .orderBy($"rel".desc, $"doc_id")
    val wArr = array(ndcgW.map(lit): _*)
    // (2^rel − 1) for rel ∈ 0..3 as an exact lookup (shiftleft's Scala
    // signature takes a constant shift, and a 4-entry table is clearer)
    val gain = element_at(array(lit(0L), lit(1L), lit(3L), lit(7L)),
      $"rel".cast("int") + 1)
    Tables.documents(s, dir)
      .select($"source", $"doc_id", $"n_chars", ($"doc_id" % 4).as("rel"))
      .withColumn("pos", row_number().over(byScore))
      .withColumn("ipos", row_number().over(byRel))
      .groupBy($"source")
      .agg(
        sum(when($"pos" <= 10, gain * element_at(wArr, $"pos".cast("int")))
          .otherwise(0L)).as("dcg_u"),
        sum(when($"ipos" <= 10, gain * element_at(wArr, $"ipos".cast("int")))
          .otherwise(0L)).as("idcg_u"),
        min(when($"rel" >= 2, $"pos")).as("first_rel_pos"))
      .select($"source",
        round($"dcg_u".cast("double") / nullif($"idcg_u", lit(0L)).cast("double"), 6)
          .as("ndcg10"),
        $"first_rel_pos".cast("int").as("first_rel_pos"),
        round(lit(1.0) / $"first_rel_pos", 6).as("mrr"))
      .orderBy($"source")
  }
  private val q234Sql = {
    val w = ndcgW.mkString("[", ", ", "]")
    s"""WITH d AS (SELECT source, doc_id, n_chars, doc_id % 4 AS rel
       |  FROM documents),
       |r AS (SELECT *, row_number() OVER (PARTITION BY source
       |      ORDER BY n_chars DESC, doc_id) AS pos,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY rel DESC, doc_id) AS ipos
       |  FROM d),
       |a AS (SELECT source,
       |    sum(CASE WHEN pos <= 10
       |      THEN ((1::BIGINT << rel) - 1) * ($w)[pos] ELSE 0 END) AS dcg_u,
       |    sum(CASE WHEN ipos <= 10
       |      THEN ((1::BIGINT << rel) - 1) * ($w)[ipos] ELSE 0 END) AS idcg_u,
       |    min(CASE WHEN rel >= 2 THEN pos END) AS first_rel_pos
       |  FROM r GROUP BY source)
       |SELECT source,
       |  round(CAST(dcg_u AS DOUBLE) / CAST(nullif(idcg_u, 0) AS DOUBLE), 6)
       |    AS ndcg10,
       |  CAST(first_rel_pos AS INT) AS first_rel_pos,
       |  round(1.0::DOUBLE / first_rel_pos, 6) AS mrr
       |FROM a ORDER BY source""".stripMargin
  }

  /** q235: rank-biased overlap (p = 0.9, depth 20) between two rankings of
    * each language's docs — the ranking-agreement check run when swapping a
    * scorer (did the new ranking reorder the head?). Rankings: by
    * (n_chars DESC, doc_id) vs the pseudo-shuffled (doc_id % 997, doc_id).
    * An item with ranks (r1, r2) is in both depth-d prefixes iff
    * max(r1, r2) ≤ d, so RBO = Σ_items SW(max-rank) with the precomputed
    * integer suffix table [[rboSW]] — one windowed pass per ranking + one
    * filtered sum per group, everything exact (scaled 1e12; identical
    * rankings score 878423345429 ≈ 0.878, the depth-20 floor of 1). */
  private def q235(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val r1w = Window.partitionBy($"lang").orderBy($"n_chars".desc, $"doc_id")
    val r2w = Window.partitionBy($"lang").orderBy(($"doc_id" % 997).asc, $"doc_id")
    val swArr = array(rboSW.map(lit): _*)
    Tables.documents(s, dir)
      .select($"lang", $"doc_id", $"n_chars")
      .withColumn("r1", row_number().over(r1w))
      .withColumn("r2", row_number().over(r2w))
      .withColumn("m", greatest($"r1", $"r2"))
      .groupBy($"lang")
      .agg(
        sum(when($"m" <= 20, element_at(swArr, $"m".cast("int")))
          .otherwise(0L)).as("rbo_e12"),
        sum(when($"m" <= 20, 1L).otherwise(0L)).as("n_head_common"))
      .orderBy($"lang")
  }
  private val q235Sql = {
    val sw = rboSW.mkString("[", ", ", "]")
    s"""WITH r AS (SELECT lang,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY n_chars DESC, doc_id) AS r1,
       |    row_number() OVER (PARTITION BY lang
       |      ORDER BY doc_id % 997, doc_id) AS r2
       |  FROM documents),
       |m AS (SELECT lang, greatest(r1, r2) AS m FROM r)
       |SELECT lang,
       |  CAST(sum(CASE WHEN m <= 20 THEN ($sw)[m] ELSE 0 END) AS BIGINT)
       |    AS rbo_e12,
       |  CAST(sum(CASE WHEN m <= 20 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_head_common
       |FROM m GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** q237: Kaplan-Meier product-limit survival for time-to-first-purchase —
    * the estimator that handles right-censoring correctly (a naive
    * conversion-by-day curve silently treats users who HAVEN'T purchased
    * YET as never-purchasing). Per user: duration = days from first event
    * to first purchase (a DEATH), or to the corpus horizon if no purchase
    * ever (CENSORED — the user was only observed that long). At each
    * duration t with deaths: at_risk n_t = users with duration ≥ t, and
    * S(t) = Π_{t'≤t} (1 − d_t'/n_t'), computed as exp(Σ ln(1 − d/n)) and
    * rounded at 6 dp. The recurrence runs on the duration-grain table
    * (cardinality ≤ the day span — a few hundred rows), so its
    * single-partition window is bounded by construction, not by users. */
  private def q237(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perUser = Tables.events(s, dir)
      .select($"user_id", expr("ts div 86400000000000").as("day"), $"event_type")
      .groupBy($"user_id")
      .agg(min($"day").as("first_day"),
        min(when($"event_type" === "purchase", $"day")).as("purch_day"),
        max($"day").as("last_day"))
    val horizon = perUser.agg(max($"last_day").as("horizon"))
    val durs = perUser.crossJoin(broadcast(horizon))
      .select(
        when($"purch_day".isNotNull, $"purch_day" - $"first_day")
          .otherwise($"horizon" - $"first_day").as("dur"),
        $"purch_day".isNotNull.cast("int").as("death"))
    val byDur = durs.groupBy($"dur")
      .agg(count(lit(1)).as("n_at"), sum($"death").as("deaths"))
    val ord = Window.orderBy($"dur")
    val all = Window.orderBy($"dur")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    byDur
      .withColumn("at_risk", sum($"n_at").over(all))
      // d == n happens exactly when the last at-risk cohort all dies:
      // S drops to literal 0 there — ln(0) is kept OUT of the sum and the
      // zero is carried by a flag instead
      .withColumn("log_s",
        sum(when($"deaths" < $"at_risk",
          log(lit(1.0) - $"deaths".cast("double") / $"at_risk"))).over(ord))
      .withColumn("wiped",
        max(($"deaths" === $"at_risk").cast("int")).over(ord))
      .filter($"deaths" > 0)
      .select($"dur".as("duration_days"), $"at_risk", $"deaths",
        when($"wiped" === 1, lit(0.0))
          .otherwise(round(exp($"log_s"), 6)).as("survival"))
      .orderBy($"duration_days")
  }
  private val q237Sql =
    """WITH ev AS (SELECT user_id,
      |    epoch_ns(ts) // 86400000000000 AS day, event_type FROM events),
      |u AS (SELECT user_id, min(day) AS first_day,
      |    min(CASE WHEN event_type = 'purchase' THEN day END) AS purch_day,
      |    max(day) AS last_day
      |  FROM ev GROUP BY user_id),
      |h AS (SELECT max(last_day) AS horizon FROM u),
      |d AS (SELECT CASE WHEN purch_day IS NOT NULL
      |      THEN purch_day - first_day
      |      ELSE h.horizon - first_day END AS dur,
      |    CASE WHEN purch_day IS NOT NULL THEN 1 ELSE 0 END AS death
      |  FROM u, h),
      |g AS (SELECT dur, count(*) AS n_at, sum(death) AS deaths
      |  FROM d GROUP BY dur),
      |k AS (SELECT dur, deaths,
      |    sum(n_at) OVER (ORDER BY dur ROWS BETWEEN CURRENT ROW
      |      AND UNBOUNDED FOLLOWING) AS at_risk
      |  FROM g),
      |s AS (SELECT dur, deaths, at_risk,
      |    sum(CASE WHEN deaths < at_risk
      |      THEN ln(1.0 - CAST(deaths AS DOUBLE) / at_risk) END)
      |      OVER (ORDER BY dur) AS log_s,
      |    max(CASE WHEN deaths = at_risk THEN 1 ELSE 0 END)
      |      OVER (ORDER BY dur) AS wiped
      |  FROM k)
      |SELECT dur AS duration_days, CAST(at_risk AS BIGINT) AS at_risk,
      |  CAST(deaths AS BIGINT) AS deaths,
      |  CASE WHEN wiped = 1 THEN 0.0
      |    ELSE round(exp(log_s), 6) END AS survival
      |FROM s WHERE deaths > 0 ORDER BY duration_days""".stripMargin

  /** q238: deterministic m-out-of-n bootstrap CI for the mean order value —
    * B = 40 replicates, each drawing n rows with replacement via one LCG
    * step from a (replicate, index)-keyed seed (x = (1103515245·s + 12345)
    * mod 2^31 — integer arithmetic both engines compute identically, so
    * the "random" draws are bit-reproducible). Replicate means are exact
    * DECIMAL sums divided once and rounded at 4 dp; the 95% CI is order
    * statistics 1 and 39 of the 40 means (2.5%/97.5% quantile indexes) —
    * no percentile-function semantics to disagree over.
    *
    * Scale contract: this is the DECLARED m-out-of-n exactness baseline;
    * its gated scale path is q246 (Poisson bootstrap — join-free, needs no
    * row index at all, measured FLAT at ×10 in SCALE.md). The global row
    * index here is a [[graft.operators.DistributedScan.rowNumbers]]
    * two-level scan, not a single-partition window, so even the baseline
    * partitions cleanly. */
  private def q238(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    // the indexed frame has THREE consumers (the draw stream, the join
    // side, and the n count), and each one replays the rowNumbers subtree:
    // the duplication is deliberate. A lazy pin on `base` was measured and
    // reverted (OPTIMIZATION_r15.md item 5): in a full-run A/B its
    // data-sized blocks cost more under block-manager pressure than the
    // deduplicated subtree saved.
    val base = graft.operators.DistributedScan.rowNumbers(
      Tables.orders(s, dir).select($"o_orderkey", $"o_totalprice"),
      Seq($"o_orderkey"), "i")
    val n = base.agg(count(lit(1)).as("n"))
    // seed folds into [0, 2^31) BEFORE the LCG multiply so a·s never
    // exceeds int64 at any n (2654435761 is the Knuth golden-ratio
    // multiplier spreading replicates apart in seed space)
    val draws = base.select($"i").crossJoin(broadcast(n))
      .select($"i", $"n", explode(sequence(lit(1L), lit(40L))).as("b"))
      .select($"b", ((lit(1103515245L) *
        (($"b" * 2654435761L + $"i") % 2147483648L)
        + 12345L) % 2147483648L % $"n" + 1L).as("target"))
    val means = draws
      .join(base.select($"i".as("target"), $"o_totalprice"), Seq("target"))
      .groupBy($"b")
      .agg(round(sum($"o_totalprice".cast(dec)).cast("double") /
        count(lit(1)), 4).as("mean4"))
    val ranked = means
      .withColumn("r", row_number().over(Window.orderBy($"mean4", $"b")))
    val point = Tables.orders(s, dir)
      .agg(round(sum($"o_totalprice".cast(dec)).cast("double") /
        count(lit(1)), 4).as("point4"), count(lit(1)).as("n_rows"))
    ranked.agg(
        min(when($"r" === 1, $"mean4")).as("lo4"),
        min(when($"r" === 39, $"mean4")).as("hi4"))
      .crossJoin(point)
      .select($"n_rows", $"point4", $"lo4", $"hi4")
  }
  private val q238Sql =
    """WITH base AS (SELECT o_totalprice,
      |    CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS i
      |  FROM orders),
      |n AS (SELECT count(*) AS n FROM base),
      |draws AS (SELECT b.b,
      |    (1103515245 * ((b.b * 2654435761 + base.i) % 2147483648)
      |      + 12345) % 2147483648 % n.n + 1 AS target
      |  FROM base, n, UNNEST(range(1, 41)) AS b(b)),
      |means AS (SELECT d.b,
      |    round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |      / count(*), 4) AS mean4
      |  FROM draws d JOIN base o ON o.i = d.target GROUP BY d.b),
      |r AS (SELECT mean4,
      |    row_number() OVER (ORDER BY mean4, b) AS r FROM means)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
      |  (SELECT round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |      AS DOUBLE) / count(*), 4) FROM orders) AS point4,
      |  (SELECT mean4 FROM r WHERE r = 1) AS lo4,
      |  (SELECT mean4 FROM r WHERE r = 39) AS hi4""".stripMargin

  /** Poisson(1) CDF thresholds scaled by 2^31 (floor), k = 0..8: a draw
    * u ∈ [0, 2^31) maps to weight k = #{thresholds ≤ u}. Integer literals
    * identical in the oracle, so the "random" weights are exact on both
    * engines; P(k > 8) ≈ 1.1e-6 is truncated to 8 (same truncation both
    * sides — a modeling choice, not a divergence). */
  private val poissonT = Seq(790015084L, 1580030168L, 1975037710L,
    2106706891L, 2139624186L, 2146207645L, 2147304888L, 2147461638L,
    2147481231L)

  /** q246: POISSON bootstrap CI — the scale path q238's exact m-out-of-n
    * cannot take: instead of drawing n indexed rows per replicate
    * (which needs a global row index — a single-partition sort here, a
    * DistributedScan on a cluster — and a B·n-row join), each row gets an
    * independent Poisson(1) weight per replicate from one LCG step keyed
    * by (replicate, o_orderkey). NO index, NO join: one explode(×B) and
    * one 40-group aggregate — embarrassingly parallel at any corpus size
    * (measured: q238 ran 8.3× slower at ×10 data; this shape is the
    * standard production bootstrap precisely because nothing in it is
    * global). Replicate means are Σw·price / Σw in exact DECIMAL, CI =
    * order statistics 1/39 of the 40 means. The weights are
    * bit-reproducible: u is integer LCG output, the Poisson inverse-CDF
    * is the integer threshold table [[poissonT]]. */
  private def q246(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    // the ×40 explode multiplies whatever parallelism the scan produced;
    // a single-file input would otherwise expand on ONE task (measured
    // 15 s -> 2 s at sf0.1). Pinned-N, not bare repartition(key): a
    // REPARTITION_BY_COL shuffle is AQE-coalescible and this frame is
    // bytes-tiny — contract documented on the operator.
    val means = graft.operators.PinnedExplode.pin(
        Tables.orders(s, dir).select($"o_orderkey", $"o_totalprice"),
        $"o_orderkey")
      .select($"o_orderkey", $"o_totalprice",
        explode(sequence(lit(1L), lit(40L))).as("b"))
      .withColumn("u", (lit(1103515245L) *
        (($"b" * 2654435761L + $"o_orderkey") % 2147483648L)
        + 12345L) % 2147483648L)
      // unrolled threshold count, NOT aggregate(): higher-order functions
      // are CodegenFallback — the interpreted 9-step lambda on 40n rows
      // measured 12.8 s vs ~2 s for this codegen'd sum of comparisons
      .withColumn("wgt", poissonT.map(t =>
        when($"u" >= t, 1L).otherwise(0L)).reduce(_ + _))
      .groupBy($"b")
      .agg(round(sum(($"o_totalprice".cast(dec) * $"wgt").cast(dec))
          .cast("double") / sum($"wgt"), 4).as("mean4"))
    val ranked = means
      .withColumn("r", row_number().over(Window.orderBy($"mean4", $"b")))
    val point = Tables.orders(s, dir)
      .agg(round(sum($"o_totalprice".cast(dec)).cast("double") /
        count(lit(1)), 4).as("point4"), count(lit(1)).as("n_rows"))
    ranked.agg(
        min(when($"r" === 1, $"mean4")).as("lo4"),
        min(when($"r" === 39, $"mean4")).as("hi4"))
      .crossJoin(point)
      .select($"n_rows", $"point4", $"lo4", $"hi4")
  }
  private val q246Sql =
    """WITH d AS (SELECT o_orderkey, o_totalprice, b.b,
      |    (1103515245 * ((b.b * 2654435761 + o_orderkey) % 2147483648)
      |      + 12345) % 2147483648 AS u
      |  FROM orders, UNNEST(range(1, 41)) AS b(b)),
      |w AS (SELECT b, o_totalprice,
      |    len(list_filter([790015084, 1580030168, 1975037710, 2106706891,
      |      2139624186, 2146207645, 2147304888, 2147461638, 2147481231],
      |      t -> u >= t)) AS wgt
      |  FROM d),
      |means AS (SELECT b,
      |    round(CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * wgt
      |        AS DECIMAL(18,2))) AS DOUBLE) / sum(wgt), 4) AS mean4
      |  FROM w GROUP BY b),
      |r AS (SELECT mean4,
      |    row_number() OVER (ORDER BY mean4, b) AS r FROM means)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
      |  (SELECT round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |      AS DOUBLE) / count(*), 4) FROM orders) AS point4,
      |  (SELECT mean4 FROM r WHERE r = 1) AS lo4,
      |  (SELECT mean4 FROM r WHERE r = 39) AS hi4""".stripMargin

  /** q293: Kendall τ-b between two part leaderboards — rank agreement by
    * PAIR concordance, completing the agreement family (q235's RBO is
    * top-weighted overlap; τ-b is the unweighted pairwise view with
    * principled tie handling): over the top-100 parts by revenue, do
    * revenue and unit volume order them the same way? Both metrics are
    * exact longs, so concordant/discordant/tied pair counts over the
    * bounded 100-row frame (broadcast self-join on part id order, 4950
    * pairs) are exact integers; τ-b = (C − D) / √((n₀−t_r)(n₀−t_q)) is
    * one double formula, 6 dp. The data-sized step is the one revenue
    * aggregate; everything after runs on the bounded leaderboard. */
  private def q293(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = org.apache.spark.sql.types.DecimalType
    val term = $"l_extendedprice".cast(dec(12, 2)) *
      (lit(BigDecimal("1.00")).cast(dec(3, 2)) -
        $"l_discount".cast(dec(4, 2)))
    val top = Tables.lineitem(s, dir)
      .groupBy($"l_partkey")
      // exact decimal sum (scale 4) ×10⁴ → integer hundredths-of-a-cent
      .agg((sum(term) * 10000).cast("long").as("rev_c4"),
        sum($"l_quantity".cast("long")).as("qty"))
      .orderBy($"rev_c4".desc, $"l_partkey").limit(100)
      .localCheckpoint(true)
    val pairs = top.as("a").join(broadcast(top.as("b")),
        $"a.l_partkey" < $"b.l_partkey")
      .select(
        signum($"a.rev_c4" - $"b.rev_c4").cast("long").as("dr"),
        signum($"a.qty" - $"b.qty").cast("long").as("dq"))
    pairs.agg(count(lit(1)).as("n0"),
        sum(when($"dr" * $"dq" > 0, 1L).otherwise(0L)).as("c"),
        sum(when($"dr" * $"dq" < 0, 1L).otherwise(0L)).as("d"),
        sum(when($"dr" === 0, 1L).otherwise(0L)).as("tr"),
        sum(when($"dq" === 0, 1L).otherwise(0L)).as("tq"))
      .select($"n0", $"c", $"d",
        round(($"c" - $"d").cast("double") /
          sqrt(($"n0" - $"tr").cast("double") * ($"n0" - $"tq")), 6)
          .as("tau_b6"))
  }
  private val q293Sql =
    """WITH top AS (SELECT l_partkey,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |      * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
      |      * 10000 AS BIGINT) AS rev_c4,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |  FROM lineitem GROUP BY 1
      |  ORDER BY rev_c4 DESC, l_partkey LIMIT 100),
      |p AS (SELECT CAST(sign(a.rev_c4 - b.rev_c4) AS BIGINT) AS dr,
      |    CAST(sign(a.qty - b.qty) AS BIGINT) AS dq
      |  FROM top a JOIN top b ON a.l_partkey < b.l_partkey),
      |cells AS (SELECT CAST(count(*) AS BIGINT) AS n0,
      |    CAST(sum(CASE WHEN dr * dq > 0 THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN dr * dq < 0 THEN 1 ELSE 0 END) AS BIGINT) AS d,
      |    CAST(sum(CASE WHEN dr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tr,
      |    CAST(sum(CASE WHEN dq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tq
      |  FROM p)
      |SELECT n0, c, d,
      |  round(CAST(c - d AS DOUBLE)
      |    / sqrt(CAST(n0 - tr AS DOUBLE) * (n0 - tq)), 6) AS tau_b6
      |FROM cells""".stripMargin

  /** q348: SELF-BLEU sufficient statistics — the corpus-DIVERSITY metric
    * of Zhu et al. 2018 (Texygen): for each document, BLEU-style clipped
    * n-gram precision against ALL OTHER documents of its source as the
    * reference set; low self-BLEU = diverse corpus, high = mode collapse
    * or boilerplate. Emitted as the integer sufficient statistics a
    * distributed eval pipeline actually aggregates — per (source, n ≤ 4):
    * Σ clipped matches and Σ candidate n-grams, plus the ppm precision —
    * because corpus-level BLEU is computed FROM these sums (the brevity
    * penalty is ≈1 under the self-BLEU convention of closest-length
    * references and is left to the consumer; documented, not hidden).
    * The clip for doc d's n-gram g is min(c_d(g), max_{d'≠d} c_{d'}(g)):
    * realized without a per-doc anti-join by ranking each gram's per-doc
    * counts ONCE — the reference max for the argmax doc is the gram's
    * SECOND-highest count (nth_value 2), for every other doc the first —
    * so the all-pairs "each doc vs the rest" semantics costs one window
    * pass, not |docs|² work. The hash pins every per-gram top-2 choice
    * (tie rule: count DESC, doc_id ASC) through the integer sums.
    *
    * Scale shape: one explode + one map-side-combinable (doc, n, gram)
    * count; one window partitioned by (source, n, gram) — partition size
    * is bounded by the docs-per-source sharing the gram, never global;
    * one final combinable (source, n) aggregate. All-integer output. */
  private def q348(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"source", $"doc_id", split($"text", " ").as("w"))
    val grams = (1 to 4).map { n =>
      docs.filter(size($"w") >= n).select($"source", $"doc_id",
        lit(n).as("n"),
        explode(expr(s"transform(sequence(1, size(w) - ${n - 1}), " +
          s"i -> array_join(slice(w, i, $n), chr(31)))")).as("gram"))
    }.reduce(_ unionAll _)
    val cand = grams.groupBy($"source", $"doc_id", $"n", $"gram")
      .agg(count(lit(1)).as("c"))
    val wg = Window.partitionBy($"source", $"n", $"gram")
      .orderBy($"c".desc, $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cand
      .withColumn("c1", first($"c").over(wg))
      .withColumn("d1", first($"doc_id").over(wg))
      .withColumn("c2", nth_value($"c", 2).over(wg))
      .withColumn("clip", least($"c",
        when($"doc_id" === $"d1", coalesce($"c2", lit(0L))).otherwise($"c1")))
      .groupBy($"source", $"n")
      .agg(sum($"clip").as("clipped"), sum($"c").as("total"))
      .select($"source", $"n".cast("long").as("n"), $"clipped", $"total",
        expr("CASE WHEN total = 0 THEN 0 " +
          "ELSE (clipped * 1000000) div total END").as("prec_ppm"))
      .orderBy($"source", $"n")
  }
  private val q348Sql = {
    val branches = (1 to 4).map { n =>
      s"""SELECT source, doc_id, $n AS n,
         |    unnest(list_transform(range(1, len(w) - ${n - 1} + 1),
         |      i -> array_to_string(w[i:i+${n - 1}], chr(31)))) AS gram
         |  FROM docs WHERE len(w) >= $n""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH docs AS (SELECT source, doc_id, string_split(text, ' ') AS w
      |  FROM documents),
      |g AS (
      |  $branches),
      |cand AS (SELECT source, doc_id, n, gram,
      |    CAST(count(*) AS BIGINT) AS c FROM g GROUP BY 1, 2, 3, 4),
      |win AS (SELECT source, doc_id, n, c,
      |    first_value(c) OVER wg AS c1,
      |    first_value(doc_id) OVER wg AS d1,
      |    nth_value(c, 2) OVER wg AS c2
      |  FROM cand WINDOW wg AS (PARTITION BY source, n, gram
      |    ORDER BY c DESC, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
      |cl AS (SELECT source, n, c,
      |    least(c, CASE WHEN doc_id = d1 THEN coalesce(c2, 0) ELSE c1 END)
      |      AS clip FROM win),
      |agg AS (SELECT source, n, CAST(sum(clip) AS BIGINT) AS clipped,
      |    CAST(sum(c) AS BIGINT) AS total FROM cl GROUP BY 1, 2)
      |SELECT source, CAST(n AS BIGINT) AS n, clipped, total,
      |  CASE WHEN total = 0 THEN 0
      |    ELSE (clipped * 1000000) // total END AS prec_ppm
      |FROM agg ORDER BY source, n""".stripMargin
  }

  /** q353: B-CUBED + PURITY clustering evaluation (Bagga & Baldwin 1998;
    * the metric of record for dedup/coreference cluster quality, cf.
    * Amigó et al. 2009) — scores the engine's own q30 sign-bit LSH
    * bucketing against the embeddings' gold `label` column. Per-cluster
    * row: size, distinct labels, dominant label (ties → smallest label)
    * with purity, Σc² with the B³-precision contribution (B³P cluster
    * term = Σ_l c²/n_b), and the µ-scaled B³-recall contribution
    * (Σ_l ⌊c²·10⁶/n_l⌋ — per-CELL floor-truncated so the sum is
    * integer-exact and order-free on both engines; global B³P/R are one
    * consumer division away). Everything is counting arithmetic —
    * no floats anywhere. The c²·10⁶ terms are computed WIDE on both
    * engines (DECIMAL(38,0) here, HUGEINT in the oracle): in BIGINT
    * they would wrap silently on Spark once a (bucket,label) cell
    * passes ~3.04M rows — a real size at corpus scale — while DuckDB
    * raises, a divergence this widening removes.
    *
    * Scale shape: one combinable (bucket, label) count, a |labels|-row
    * broadcast for n_l, a window over the per-bucket cell group (bounded
    * by |labels|, not corpus size), one combinable bucket roll-up. */
  private def q353(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = Tables.embeddings(s, dir)
      .select($"vec_id", $"label",
        graft.functions.vector.signBits($"embedding".cast("array<double>"),
          0, 8).as("bucket"))
      .groupBy($"bucket", $"label").agg(count(lit(1)).as("c"))
    val lab = cells.groupBy($"label").agg(sum($"c").as("n_l"))
      .withColumnRenamed("label", "l2")
    val wB = Window.partitionBy($"bucket")
    cells.join(broadcast(lab), $"label" === $"l2")
      .withColumn("mc", max($"c").over(wB))
      .groupBy($"bucket")
      .agg(sum($"c").as("n_b"), count(lit(1)).as("n_labels"),
        // the DECIMAL sum narrows back to the BIGINT output column
        // LOUDLY: a silent non-ANSI decimal->long NULL here would emit a
        // wrong row where the DuckDB oracle raises (round-11 self-review)
        expr("CASE WHEN sum(CAST(c AS DECIMAL(19,0)) * c) " +
          "<= 9223372036854775807 " +
          "THEN CAST(sum(CAST(c AS DECIMAL(19,0)) * c) AS BIGINT) " +
          "ELSE CAST(raise_error('q353: sum_c2 exceeds BIGINT - widen " +
          "the output column') AS BIGINT) END").as("sum_c2"),
        max($"c").as("dom_cnt"),
        min(when($"c" === $"mc", $"label")).cast("long").as("dom_label"),
        // same loud-narrow discipline as sum_c2: each `div` term is a
        // LONG, but a plain LONG sum of them would wrap silently in
        // non-ANSI mode where the DuckDB oracle (HUGEINT accumulate,
        // raising BIGINT cast) raises — accumulate in DECIMAL, narrow
        // loudly (round-11 ADVICE)
        expr("CASE WHEN sum(CAST((CAST(c AS DECIMAL(19,0)) * c * 1000000) " +
          "div n_l AS DECIMAL(19,0))) <= 9223372036854775807 " +
          "THEN CAST(sum(CAST((CAST(c AS DECIMAL(19,0)) * c * 1000000) " +
          "div n_l AS DECIMAL(19,0))) AS BIGINT) " +
          "ELSE CAST(raise_error('q353: brec_ppm_sum exceeds BIGINT - " +
          "widen the output column') AS BIGINT) END").as("brec_ppm_sum"))
      .withColumn("purity_ppm", expr("(dom_cnt * 1000000) div n_b"))
      .withColumn("bprec_ppm",
        expr("(CAST(sum_c2 AS DECIMAL(19,0)) * 1000000) div n_b"))
      .select($"bucket", $"n_b", $"n_labels", $"dom_label", $"dom_cnt",
        $"sum_c2", $"purity_ppm", $"bprec_ppm", $"brec_ppm_sum")
      .orderBy($"bucket")
  }
  private val q353Sql =
    """WITH b0 AS (SELECT vec_id, label,
      |    list_reduce(list_prepend(0, list_transform(range(1, 9),
      |      j -> CASE WHEN CAST(embedding[j] AS DOUBLE) >= 0
      |        THEN (1 << (j - 1)) ELSE 0 END)),
      |      (acc, x) -> acc + x) AS bucket
      |  FROM embeddings),
      |cells AS (SELECT bucket, label, CAST(count(*) AS BIGINT) AS c
      |  FROM b0 GROUP BY 1, 2),
      |lab AS (SELECT label, CAST(sum(c) AS BIGINT) AS n_l
      |  FROM cells GROUP BY 1),
      |cl AS (SELECT c.bucket, c.label, c.c, l.n_l,
      |    max(c.c) OVER (PARTITION BY c.bucket) AS mc
      |  FROM cells c JOIN lab l ON c.label = l.label)
      |SELECT bucket, CAST(sum(c) AS BIGINT) AS n_b,
      |  CAST(count(*) AS BIGINT) AS n_labels,
      |  CAST(min(CASE WHEN c = mc THEN label END) AS BIGINT) AS dom_label,
      |  CAST(max(c) AS BIGINT) AS dom_cnt,
      |  CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT) AS sum_c2,
      |  (CAST(max(c) AS BIGINT) * 1000000) // CAST(sum(c) AS BIGINT)
      |    AS purity_ppm,
      |  CAST((sum(CAST(c AS HUGEINT) * c) * 1000000) // sum(c) AS BIGINT)
      |    AS bprec_ppm,
      |  CAST(sum((CAST(c AS HUGEINT) * c * 1000000) // n_l) AS BIGINT)
      |    AS brec_ppm_sum
      |FROM cl GROUP BY 1 ORDER BY bucket""".stripMargin

  override def queries: Seq[QueryDef] = Seq(
    QueryDef("q353_bcubed_purity", q353, Some(q353Sql)),
    QueryDef("q348_self_bleu", q348, Some(q348Sql)),
    QueryDef("q293_kendall_tau", q293, Some(q293Sql)),
    QueryDef("q234_ndcg_mrr", q234, Some(q234Sql)),
    QueryDef("q235_rank_biased_overlap", q235, Some(q235Sql)),
    QueryDef("q237_kaplan_meier", q237, Some(q237Sql)),
    QueryDef("q238_bootstrap_ci", q238, Some(q238Sql)),
    QueryDef("q246_poisson_bootstrap", q246, Some(q246Sql)),
  )
}
