package graft.queries

import graft.{Pins, QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-selection operators: multi-objective (skyline) picking, weighted
  * deterministic sampling, and corpus-model scoring — the "which rows make
  * the cut" layer of a training-data pipeline.
  */
object SelectionQueries extends QueryModule {

  /** q118: skyline (Pareto frontier) over parts — minimize p_size,
    * maximize p_retailprice; a part survives iff nothing is at least as
    * good on both axes and strictly better on one. The naive semantics is
    * the O(n²) NOT EXISTS self-join (the oracle runs exactly that); the
    * engine reduces it to per-size maxima (one shuffle on a bounded-
    * cardinality key), a strict prefix-max over the |sizes|-row frame
    * (tiny-table window, cf. q112), and one broadcast join back — linear
    * in the data at any scale. Ties on both axes are mutually
    * non-dominating and all kept, which the max-equality join preserves. */
  private def q118(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = Tables.part(s, dir)
    val wPrev = Window.orderBy($"p_size").rowsBetween(Window.unboundedPreceding, -1)
    val sky = p.groupBy($"p_size").agg(max($"p_retailprice").as("maxp"))
      .withColumn("prevmax", max($"maxp").over(wPrev))
      .filter($"prevmax".isNull || $"maxp" > $"prevmax")
      .select($"p_size", $"maxp")
    p.join(broadcast(sky), Seq("p_size"))
      .filter($"p_retailprice" === $"maxp")
      .select($"p_partkey", $"p_name", $"p_size", $"p_retailprice")
      .orderBy($"p_size", $"p_partkey")
  }
  private val q118Sql =
    """SELECT p_partkey, p_name, p_size, p_retailprice FROM part p
      |WHERE NOT EXISTS (SELECT 1 FROM part q
      |  WHERE q.p_size <= p.p_size AND q.p_retailprice >= p.p_retailprice
      |    AND (q.p_size < p.p_size OR q.p_retailprice > p.p_retailprice))
      |ORDER BY p_size, p_partkey""".stripMargin

  /** q119: deterministic weighted sampling — priority sampling with an
    * integer key: each document draws a 48-bit uniform from md5(doc_id)
    * and its priority is that draw integer-divided by its weight
    * (n_chars), so heavier documents get proportionally smaller keys; the
    * global top-k by (priority, id) is the sample. Everything is integer
    * arithmetic on a pure function of the id — stable under resharding,
    * re-ingest, engine, and cluster size (the q60 split-column property,
    * extended to weights) — and the selection is a TakeOrderedAndProject,
    * never a global sort. */
  private def q119(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"n_chars",
        conv(substring(md5($"doc_id".cast("string")), 1, 12), 16, 10)
          .cast("long").as("h"))
      .withColumn("priority", expr("h div greatest(n_chars, CAST(1 AS BIGINT))"))
      .select($"doc_id", $"n_chars", $"priority")
      .orderBy($"priority", $"doc_id")
      .limit(100)
  }
  /** 48-bit md5 prefix as a BIGINT in DuckDB (no hex-cast builtin) — the
    * q60 digit-arithmetic trick, widened to 12 hex digits. */
  private val duckH48: String = {
    def digit(i: Int) =
      s"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 1)"
    (1 to 12).map(i => s"${digit(i)} * ${java.math.BigInteger.valueOf(16L).pow(12 - i)}")
      .mkString("(", " + ", ")")
  }
  private val q119Sql =
    s"""SELECT doc_id, n_chars,
       |  CAST($duckH48 AS BIGINT) // CAST(greatest(n_chars, 1) AS BIGINT) AS priority
       |FROM documents
       |ORDER BY priority, doc_id LIMIT 100""".stripMargin

  /** q121: bigram language-model scoring — train bigram conditional
    * probabilities P(w2|w1) on the corpus itself, then score every
    * document by its average bigram probability. The model is two
    * aggregates (bigram counts, prefix counts); scoring joins each
    * occurrence back to its counts on (w1, w2) then w1 — hash joins on
    * token keys, no driver-side model object, so the "model" scales with
    * the vocabulary, sharded like any other table. Probabilities are kept
    * EXACT as 8-digit fixed-point integers (cnt·10⁸ div prefix — the q100
    * trick), so per-document averages are LONG sums with one final double
    * division; no log/exp whose libm rounding could differ per engine. */
  private def q121(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val occ = Tables.documents(s, dir)
      .select($"doc_id", split($"text", " ").as("t"))
      .withColumn("a", slice($"t", lit(1), size($"t") - 1))
      .withColumn("b", slice($"t", lit(2), size($"t") - 1))
      .select($"doc_id", explode(arrays_zip($"a", $"b")).as("bg"))
      .select($"doc_id", $"bg.a".as("w1"), $"bg.b".as("w2"))
    val bc = occ.groupBy($"w1", $"w2").agg(count(lit(1)).as("cnt_b"))
    val pc = bc.groupBy($"w1").agg(sum($"cnt_b").as("cnt_p"))
    occ.join(bc, Seq("w1", "w2")).join(pc, Seq("w1"))
      .withColumn("p_fp", expr("cnt_b * CAST(100000000 AS BIGINT) div cnt_p"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum($"p_fp").cast("double") / (count(lit(1)) * 1.0e8), 6)
          .as("avg_prob"))
      .orderBy($"doc_id")
  }
  private val q121Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |occ AS (SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
      |  FROM d, UNNEST(range(1, len(l))) AS t(i)),
      |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt_b FROM occ GROUP BY 1, 2),
      |pc AS (SELECT w1, CAST(sum(cnt_b) AS BIGINT) AS cnt_p FROM bc GROUP BY 1),
      |sc AS (SELECT o.doc_id, (b.cnt_b * 100000000) // p.cnt_p AS p_fp
      |  FROM occ o JOIN bc b USING (w1, w2) JOIN pc p USING (w1))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  round(CAST(sum(p_fp) AS DOUBLE) / (count(*) * 100000000.0), 6) AS avg_prob
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val coverK = 8

  /** q255: greedy maximum-coverage document selection — the submodular
    * data-curation primitive ("pick the k documents that together cover
    * the most distinct shingles"): k rounds, each selecting the document
    * with the largest MARGINAL gain (new shingles not yet covered),
    * tie-broken by doc_id. The greedy algorithm's (1 − 1/e) guarantee is
    * why this exact loop is the standard subset-selection / dedup-aware
    * sampling kernel (facility location over n-gram features).
    *
    * Scale shape: the covered set and candidate scores stay DISTRIBUTED
    * — per round one anti-join of the (doc, shingle) pairs against the
    * covered shingles, one grouped count, and a driver transfer of
    * EXACTLY ONE row (the argmax) plus one scalar (covered count); never
    * the gains table or the covered set. Everything is integer counts, so
    * the oracle replays the identical k rounds as unrolled CTEs with the
    * same (gain DESC, doc_id) argmax. Rounds where every remaining
    * document has zero marginal gain produce no pick on either side. */
  private def q255(s: SparkSession, dir: String): DataFrame = Pins.scope(s) { pins =>
    import s.implicits._
    val sh = pins(TextDedupQueries.shingles(s, dir).select($"doc_id", $"shingle"))
    var covered: DataFrame = null
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    for (r <- 1 to coverK) {
      val remaining =
        if (covered == null) sh else sh.join(covered, Seq("shingle"), "left_anti")
      val top = remaining.groupBy($"doc_id").agg(count(lit(1)).as("gain"))
        .orderBy($"gain".desc, $"doc_id").limit(1).collect()
      if (top.nonEmpty) {
        val (pick, gain) = (top.head.getLong(0), top.head.getLong(1))
        val newCov = sh.filter($"doc_id" === pick).select($"shingle")
        // EAGER pin, kept after a measured round trip: lazy (the
        // covered_cum count materializes) saved 8 jobs, wall-neutral at
        // sf0.1, but slightly slower at ×10 (medians 6.6 vs 6.0 s warm)
        // — the next round's anti-join plans against an unmaterialized
        // checkpoint. Scale wins; see SCALE.md §Round 14 resumed.
        covered = pins((if (covered == null) newCov else covered.union(newCov))
          .distinct())
        picks += ((r.toLong, pick, gain, covered.count()))
        pins.sweep(sh, covered)
      }
    }
    picks.toSeq.toDF("pick_rank", "doc_id", "gain", "covered_cum")
      .orderBy($"pick_rank")
  }
  private val q255Sql = {
    val rounds = (1 to coverK).map { i =>
      val gainSrc =
        if (i == 1) "SELECT doc_id, CAST(count(*) AS BIGINT) AS gain FROM sh GROUP BY 1"
        else
          s"""SELECT s.doc_id, CAST(count(*) AS BIGINT) AS gain FROM sh s
             |  WHERE NOT EXISTS (SELECT 1 FROM c${i - 1} c
             |                    WHERE c.shingle = s.shingle)
             |  GROUP BY 1""".stripMargin
      val covSrc =
        if (i == 1) s"SELECT DISTINCT s.shingle FROM sh s JOIN p$i USING (doc_id)"
        else
          s"""SELECT shingle FROM c${i - 1}
             |  UNION SELECT s.shingle FROM sh s JOIN p$i USING (doc_id)""".stripMargin
      s"""g$i AS MATERIALIZED ($gainSrc),
         |p$i AS MATERIALIZED (SELECT doc_id, gain FROM g$i ORDER BY gain DESC, doc_id LIMIT 1),
         |c$i AS MATERIALIZED ($covSrc)""".stripMargin
    }.mkString(",\n")
    val out = (1 to coverK).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS pick_rank, doc_id, gain,
         |  (SELECT CAST(count(*) AS BIGINT) FROM c$i) AS covered_cum FROM p$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""${TextDedupQueries.shinglesSql},
       |$rounds
       |$out
       |ORDER BY pick_rank""".stripMargin
  }

  /** q275: per-source priority sampling (Duffield/Lund/Thorup) with the
    * Horvitz-Thompson total-weight estimate — the weighted-sample upgrade
    * over q119's global h/w pick: priorities q = (w·2³¹) div (h+1) are
    * EXACT integers (h is the two-step odd-multiplier LCG of q271, so
    * both engines compute identical "randomness"), the top-10 per source
    * are the sample, and the 11th priority is the threshold τ that makes
    * Σ max(wᵢ, τ) an unbiased estimate of the source's total weight —
    * the estimator that lets a curation pipeline sample 10⁻⁶ of a corpus
    * and still report per-source token budgets. Per-source ranking is
    * one window; at fleet scale the same contract rides the bounded
    * [[org.apache.spark.sql.graft.TopKAggregate]] buffer (k+1 rows per
    * source cross the exchange) — the q271 collapse. A source with ≤10
    * docs has no 11th priority; τ coalesces to 0 and the estimator
    * degenerates to the exact sum, which is the correct exhaustive-
    * sample behavior, not a special case. */
  private def q275(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir)
      .select($"source", $"doc_id", $"n_chars")
      .withColumn("h", (lit(1103515245L) *
        ((lit(2654435761L) * ($"doc_id" % 2147483648L)) % 2147483648L)
        + 12345L) % 2147483648L)
      .withColumn("priority", expr("(n_chars * 2147483648) div (h + 1)"))
    val rk = d.withColumn("rk", row_number().over(
        Window.partitionBy($"source").orderBy($"priority".desc, $"doc_id")))
      .filter($"rk" <= 11)
    val tau = rk.filter($"rk" === 11).select($"source", $"priority".as("tau"))
    rk.filter($"rk" <= 10)
      .join(tau, Seq("source"), "left").na.fill(0L, Seq("tau"))
      .withColumn("w_est", greatest($"n_chars", $"tau"))
      .withColumn("est_total",
        sum($"w_est").over(Window.partitionBy($"source")))
      .select($"source", $"rk", $"doc_id", $"n_chars", $"tau", $"est_total")
      .orderBy($"source", $"rk")
  }
  private val q275Sql =
    """WITH d AS (SELECT source, doc_id, n_chars,
      |    (1103515245 * ((2654435761 * (doc_id % 2147483648)) % 2147483648)
      |      + 12345) % 2147483648 AS h
      |  FROM documents),
      |p AS (SELECT source, doc_id, n_chars,
      |    (n_chars * 2147483648) // (h + 1) AS priority
      |  FROM d),
      |r AS (SELECT source, doc_id, n_chars, priority,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY priority DESC, doc_id) AS BIGINT) AS rk
      |  FROM p),
      |tau AS (SELECT source, priority AS tau FROM r WHERE rk = 11),
      |sm AS (SELECT r.source, r.rk, r.doc_id, r.n_chars,
      |    coalesce(tau.tau, 0) AS tau,
      |    greatest(r.n_chars, coalesce(tau.tau, 0)) AS w_est
      |  FROM r LEFT JOIN tau USING (source) WHERE r.rk <= 10)
      |SELECT source, rk, doc_id, n_chars, tau,
      |  CAST(sum(w_est) OVER (PARTITION BY source) AS BIGINT) AS est_total
      |FROM sm ORDER BY source, rk""".stripMargin

  /** q276: decision-stump training — the exact 1-split weak learner
    * (the unit AdaBoost/GBDT builds from, and the simplest "learned
    * filter" a curation pipeline ships): over two binned features
    * (n_chars div 50, word-count div 5, both capped at bin 99), pick the
    * (feature, threshold) minimizing weighted Gini impurity of the
    * is-English label. The data-sized step is one histogram aggregate
    * per feature (≤100 cells each); split costs come from prefix sums
    * over those cells (tiny-table windows, q112 pattern) with impurity
    * as the EXACT integer 2·10⁶·(posL·negL div nL + posR·negR div nR) —
    * the argmin orders on (cost, feature, bin), so no float ever decides
    * the split. The n·pos products stay under int64 up to ~3·10⁶ rows
    * per side at the 10⁶ scaling; beyond that the scaling constant
    * drops — a documented knob, not a hidden overflow. */
  private def q276(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, dir)
      .select(when($"lang" === "en", 1L).otherwise(0L).as("pos"),
        least(lit(99L), expr("n_chars div 50")).as("b1"),
        least(lit(99L), expr("size(split(text, ' ')) div 5")).cast("long").as("b2"))
    def hist(f: String, bin: org.apache.spark.sql.Column) =
      base.groupBy(bin.as("bin")).agg(count(lit(1)).as("n"), sum($"pos").as("p"))
        .withColumn("feature", lit(f))
    val cells = hist("n_chars_div50", $"b1").unionByName(hist("words_div5", $"b2"))
    val wCum = Window.partitionBy($"feature").orderBy($"bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy($"feature")
    cells
      .withColumn("nl", sum($"n").over(wCum))
      .withColumn("pl", sum($"p").over(wCum))
      .withColumn("nt", sum($"n").over(wTot))
      .withColumn("pt", sum($"p").over(wTot))
      .withColumn("nr", $"nt" - $"nl").withColumn("pr", $"pt" - $"pl")
      .filter($"nr" > 0)
      .withColumn("cost_scaled", expr(
        "(2000000 * pl * (nl - pl)) div nl + (2000000 * pr * (nr - pr)) div nr"))
      .select($"feature", $"bin".as("split_bin"), $"cost_scaled",
        $"nl".as("n_left"), $"pl".as("pos_left"),
        $"nr".as("n_right"), $"pr".as("pos_right"))
      .orderBy($"cost_scaled", $"feature", $"split_bin").limit(1)
  }
  private val q276Sql =
    """WITH base AS (SELECT
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
      |    least(99, n_chars // 50) AS b1,
      |    least(99, len(string_split(text, ' ')) // 5) AS b2
      |  FROM documents),
      |cells AS (
      |  SELECT 'n_chars_div50' AS feature, b1 AS bin,
      |    CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS p
      |  FROM base GROUP BY 2
      |  UNION ALL
      |  SELECT 'words_div5', b2, CAST(count(*) AS BIGINT),
      |    CAST(sum(pos) AS BIGINT)
      |  FROM base GROUP BY 2),
      |c2 AS (SELECT feature, bin, n, p,
      |    sum(n) OVER (PARTITION BY feature ORDER BY bin
      |      ROWS UNBOUNDED PRECEDING) AS nl,
      |    sum(p) OVER (PARTITION BY feature ORDER BY bin
      |      ROWS UNBOUNDED PRECEDING) AS pl,
      |    sum(n) OVER (PARTITION BY feature) AS nt,
      |    sum(p) OVER (PARTITION BY feature) AS pt
      |  FROM cells)
      |SELECT feature, bin AS split_bin,
      |  CAST((2000000 * pl * (nl - pl)) // nl
      |    + (2000000 * (pt - pl) * ((nt - nl) - (pt - pl))) // (nt - nl)
      |    AS BIGINT) AS cost_scaled,
      |  CAST(nl AS BIGINT) AS n_left, CAST(pl AS BIGINT) AS pos_left,
      |  CAST(nt - nl AS BIGINT) AS n_right,
      |  CAST(pt - pl AS BIGINT) AS pos_right
      |FROM c2 WHERE nt - nl > 0
      |ORDER BY cost_scaled, feature, split_bin LIMIT 1""".stripMargin

  /** Poisson(1) CDF thresholds scaled by 2³¹ — the q246 inverse-CDF
    * table, re-declared here for the bagged-stump replicate weights. */
  private val poissonT = Seq(790015084L, 1580030168L, 1975037710L,
    2106706891L, 2139624186L, 2146207645L, 2147304888L, 2147461638L,
    2147481231L)

  /** q277: bagged stumps — the ensemble step over q276: B = 10 Poisson-
    * bootstrap replicates (q246's indexless integer weights, keyed by
    * (replicate, doc_id)) each train an exact weighted decision stump,
    * ALL IN ONE aggregate pass: the ×B explode feeds a single
    * (replicate, feature, bin) weighted histogram, split costs are
    * prefix sums inside each (replicate, feature) — still ≤100-cell
    * windows — and each replicate's argmin is one ranking over its ~200
    * candidate rows. Output is the 10 per-replicate winners: the split-
    * stability diagnostic bagging exists for (a feature that wins 10/10
    * replicates is a robust filter; a 5/5 split is noise). Zero driver
    * participation — the ensemble trains as one shuffle + tiny windows,
    * which is why this shape survives a 10⁹-document corpus. Weighted
    * cells can have nl = 0 (all-zero weights in a prefix), so both
    * engines guard nl > 0 AND nr > 0 identically. */
  private def q277(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, dir)
      .repartition($"doc_id")
      .select($"doc_id",
        when($"lang" === "en", 1L).otherwise(0L).as("pos"),
        least(lit(99L), expr("n_chars div 50")).as("b1"),
        least(lit(99L), expr("size(split(text, ' ')) div 5")).cast("long").as("b2"))
      .select($"doc_id", $"pos", $"b1", $"b2",
        explode(sequence(lit(1L), lit(10L))).as("b"))
      .withColumn("u", (lit(1103515245L) *
        (($"b" * 2654435761L + $"doc_id") % 2147483648L)
        + 12345L) % 2147483648L)
      .withColumn("wgt", poissonT.map(t =>
        when($"u" >= t, 1L).otherwise(0L)).reduce(_ + _))
    def hist(f: String, bin: org.apache.spark.sql.Column) =
      base.groupBy($"b", bin.as("bin"))
        .agg(sum($"wgt").as("n"), sum($"wgt" * $"pos").as("p"))
        .withColumn("feature", lit(f))
    val cells = hist("n_chars_div50", $"b1").unionByName(hist("words_div5", $"b2"))
    val wCum = Window.partitionBy($"b", $"feature").orderBy($"bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy($"b", $"feature")
    cells
      .withColumn("nl", sum($"n").over(wCum))
      .withColumn("pl", sum($"p").over(wCum))
      .withColumn("nt", sum($"n").over(wTot))
      .withColumn("pt", sum($"p").over(wTot))
      .withColumn("nr", $"nt" - $"nl").withColumn("pr", $"pt" - $"pl")
      .filter($"nl" > 0 && $"nr" > 0)
      .withColumn("cost_scaled", expr(
        "(2000000 * pl * (nl - pl)) div nl + (2000000 * pr * (nr - pr)) div nr"))
      .withColumn("rk", row_number().over(Window.partitionBy($"b")
        .orderBy($"cost_scaled", $"feature", $"bin")))
      .filter($"rk" === 1)
      .select($"b".as("replicate"), $"feature", $"bin".as("split_bin"),
        $"cost_scaled")
      .orderBy($"replicate")
  }
  private val q277Sql =
    """WITH d AS (SELECT doc_id,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
      |    least(99, n_chars // 50) AS b1,
      |    least(99, len(string_split(text, ' ')) // 5) AS b2
      |  FROM documents),
      |w AS (SELECT d.*, b.b,
      |    (1103515245 * ((b.b * 2654435761 + doc_id) % 2147483648)
      |      + 12345) % 2147483648 AS u
      |  FROM d, UNNEST(range(1, 11)) AS b(b)),
      |ww AS (SELECT b, pos, b1, b2,
      |    CAST(CASE WHEN u >= 790015084 THEN 1 ELSE 0 END
      |      + CASE WHEN u >= 1580030168 THEN 1 ELSE 0 END
      |      + CASE WHEN u >= 1975037710 THEN 1 ELSE 0 END
      |      + CASE WHEN u >= 2106706891 THEN 1 ELSE 0 END
      |      + CASE WHEN u >= 2139624186 THEN 1 ELSE 0 END
      |      + CASE WHEN u >= 2146207645 THEN 1 ELSE 0 END
      |      + CASE WHEN u >= 2147304888 THEN 1 ELSE 0 END
      |      + CASE WHEN u >= 2147461638 THEN 1 ELSE 0 END
      |      + CASE WHEN u >= 2147481231 THEN 1 ELSE 0 END AS BIGINT) AS wgt
      |  FROM w),
      |cells AS (
      |  SELECT b, 'n_chars_div50' AS feature, b1 AS bin,
      |    CAST(sum(wgt) AS BIGINT) AS n, CAST(sum(wgt * pos) AS BIGINT) AS p
      |  FROM ww GROUP BY 1, 3
      |  UNION ALL
      |  SELECT b, 'words_div5', b2, CAST(sum(wgt) AS BIGINT),
      |    CAST(sum(wgt * pos) AS BIGINT)
      |  FROM ww GROUP BY 1, 3),
      |c2 AS (SELECT b, feature, bin, n, p,
      |    sum(n) OVER (PARTITION BY b, feature ORDER BY bin
      |      ROWS UNBOUNDED PRECEDING) AS nl,
      |    sum(p) OVER (PARTITION BY b, feature ORDER BY bin
      |      ROWS UNBOUNDED PRECEDING) AS pl,
      |    sum(n) OVER (PARTITION BY b, feature) AS nt,
      |    sum(p) OVER (PARTITION BY b, feature) AS pt
      |  FROM cells),
      |costs AS (SELECT b, feature, bin,
      |    CAST((2000000 * pl * (nl - pl)) // nl
      |      + (2000000 * (pt - pl) * ((nt - nl) - (pt - pl))) // (nt - nl)
      |      AS BIGINT) AS cost_scaled
      |  FROM c2 WHERE nl > 0 AND nt - nl > 0),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY b
      |    ORDER BY cost_scaled, feature, bin) AS rk FROM costs)
      |SELECT b AS replicate, feature, bin AS split_bin, cost_scaled
      |FROM rk WHERE rk = 1 ORDER BY replicate""".stripMargin

  override def queries: Seq[QueryDef] = Seq(
    QueryDef("q118_skyline", q118, Some(q118Sql)),
    QueryDef("q275_priority_sample", q275, Some(q275Sql)),
    QueryDef("q276_decision_stump", q276, Some(q276Sql)),
    QueryDef("q277_bagged_stumps", q277, Some(q277Sql)),
    QueryDef("q119_weighted_sample", q119, Some(q119Sql)),
    QueryDef("q121_bigram_lm_score", q121, Some(q121Sql)),
    QueryDef("q255_greedy_coverage", q255, Some(q255Sql)),
  )
}
