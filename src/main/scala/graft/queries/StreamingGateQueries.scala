package graft.queries

import graft.{QueryDef, QueryModule}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Structured Streaming operators promoted to first-class oracle gates —
  * the REAL streaming execution path (FileStreamSource → stateful exec →
  * sink), not a MemoryStream spec, hash-compared against a batch oracle
  * over the same parquet. q233 (CDC apply via mapGroupsWithState) lives
  * with its batch twin in WarehouseQueries; this module holds the joins.
  *
  * Scale notes (100 TB posture): a stream-stream join keys its state
  * store by the equi column (user_id) and bounds retained rows by the
  * watermark + the event-time range condition — state is O(rows inside
  * the time window per key), not O(history). The inner join emits
  * eagerly per micro-batch; nothing waits on watermark advancement, so
  * the single-batch AvailableNow run emits every pair. */
object StreamingGateQueries extends QueryModule {

  /** Stages an ordered micro-batch replay: ONE partitioned write (the
    * per-batch `coalesce(1)` loop paid a full job per batch — 7 jobs for
    * q337) and then per-batch file copies whose mtimes encode the replay
    * order (FileStreamSource sorts by mtime; a silent setLastModified
    * failure would scramble it, so it fails loudly). `ordCol` must take
    * the values 0 until n and is dropped from the staged files by the
    * partitioned write, exactly as the per-batch projection did. */
  private def stageOrderedBatches(rows: DataFrame, staged: String,
      ordCol: String, n: Int): Unit = {
    rows.repartition(1).write.mode("overwrite")
      .partitionBy(ordCol).parquet(s"$staged/parts")
    (0 until n).foreach { o =>
      val dir = new java.io.File(s"$staged/parts/$ordCol=$o")
      val fs = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
      // exactly one file per partition: repartition(1) guarantees it
      // today, but a session conf like spark.sql.files.maxRecordsPerFile
      // (or a future writer change) could split the partition — copying
      // only fs.head would then silently drop rows from the replay, so
      // multi-file partitions must fail loudly at staging time
      require(fs.length == 1,
        s"staging: batch $o of $n has ${fs.length} files — the replay " +
          "copies exactly one; an empty batch would be skipped, a split " +
          "batch silently truncated")
      val dst = new java.io.File(staged, f"batch$o%04d.parquet")
      java.nio.file.Files.copy(fs.head.toPath, dst.toPath)
      require(dst.setLastModified(1000000L * (o + 1)),
        s"staging: setLastModified failed on $dst — batch order would be undefined")
    }
  }

  /** q239: stream-stream interval join — every purchase paired with the
    * same user's clicks in the preceding hour (the online feature-join /
    * attribution shape). Both sides stream from the events file through
    * real watermarked FileStreamSources into Spark's stream-stream join
    * exec with an event-time range condition (what bounds the state
    * store); the oracle is the equivalent batch self-join in DuckDB, so
    * the hash match proves streaming join semantics == batch interval
    * join, boundary inclusivity and all. Timestamps are compared on the
    * µs lattice on both sides (DuckDB truncates parquet ns to µs). */
  private def q239(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    val streamPath = {
      val f = new java.io.File(path)
      if (f.isDirectory) path
      else s"$dir/[${path.split('/').last.head}]${path.split('/').last.tail}"
    }
    def src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1000000")
      .parquet(streamPath)
      .select($"user_id", $"event_id", $"event_type",
        // ns long or µs timestamp on disk — normalize to a µs TIMESTAMP
        // (the event-time type watermarks and range conditions need)
        (if (schema("ts").dataType ==
          org.apache.spark.sql.types.LongType)
          timestamp_micros(expr("ts div 1000"))
        else $"ts".cast("timestamp")).as("ets"))
    val purchases = src.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_event"),
        $"ets".as("pts"))
      .withWatermark("pts", "1 hour")
    val clicks = src.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("click_event"),
        $"ets".as("cts"))
      .withWatermark("cts", "1 hour")
    // a stream-stream join instantiates FOUR state stores per shuffle
    // partition per micro-batch — pure fixed overhead at any input size;
    // width, log placement, and the shared-conf scoping all live in the
    // one harness (see graft.streaming.StreamHarness)
    graft.streaming.StreamHarness.runToTable(
        purchases.join(clicks,
          $"user_id" === $"c_user" &&
            $"cts" >= $"pts" - expr("INTERVAL 1 HOUR") && $"cts" <= $"pts"),
        "q239_sink_", OutputMode.Append(), noDataBatches = false)
      .select($"purchase_event", $"click_event", $"user_id",
        unix_micros($"pts").as("purchase_ts_us"),
        unix_micros($"cts").as("click_ts_us"))
      .orderBy($"purchase_event", $"click_event")
  }
  private val q239Sql =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    epoch_ns(ts) // 1000 AS tsu FROM events)
      |SELECT p.event_id AS purchase_event, c.event_id AS click_event,
      |  p.user_id, p.tsu AS purchase_ts_us, c.tsu AS click_ts_us
      |FROM e p JOIN e c
      |  ON p.event_type = 'purchase' AND c.event_type = 'click'
      |  AND p.user_id = c.user_id
      |  AND c.tsu BETWEEN p.tsu - 3600000000 AND p.tsu
      |ORDER BY purchase_event, click_event""".stripMargin

  /** q247: streaming tumbling-window aggregation — per (1-minute window,
    * event_type): count and DECIMAL-exact mean value, through the real
    * watermarked stateful-aggregation exec in UPDATE mode (which emits
    * each batch's state without waiting for the watermark — so the
    * single AvailableNow batch yields every window's final value; the
    * Append-mode flush-on-watermark path is exactly what a bounded file
    * replay cannot exercise, documented here rather than papered over).
    * With q233 (mapGroupsWithState) and q239 (stream-stream join) this
    * puts all three Structured Streaming stateful operators under the
    * batch oracle. State per key is one (count, sum) pair — constant. */
  private def q247(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    val streamPath = {
      val f = new java.io.File(path)
      if (f.isDirectory) path
      else s"$dir/[${path.split('/').last.head}]${path.split('/').last.tail}"
    }
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1000000")
      .parquet(streamPath)
      .select($"event_type", $"value",
        (if (schema("ts").dataType ==
          org.apache.spark.sql.types.LongType)
          timestamp_micros(expr("ts div 1000"))
        else $"ts".cast("timestamp")).as("ets"))
    graft.streaming.StreamHarness.runChecked(
        src.withWatermark("ets", "1 minute")
          .groupBy(window($"ets", "1 minute"), $"event_type")
          .agg(count(lit(1)).as("n"),
            sum($"value".cast(dec)).as("sum_v")),
        "q247_sink_", OutputMode.Update(), noDataBatches = false) { q =>
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches == 1,
        s"q247 expects ONE data micro-batch (Update-mode last emission per " +
          s"window is then the final state); got $dataBatches")
    }
      .select(unix_micros($"window.start").as("window_start_us"),
        $"event_type", $"n",
        round($"sum_v".cast("double") / $"n", 4).as("avg_value"))
      .orderBy($"window_start_us", $"event_type")
  }
  private val q247Sql =
    """WITH e AS (SELECT event_type, value,
      |    epoch_ns(ts) // 1000 AS tsu FROM events)
      |SELECT (tsu // 60000000) * 60000000 AS window_start_us, event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
      |    / count(*), 4) AS avg_value
      |FROM e GROUP BY 1, 2
      |ORDER BY window_start_us, event_type""".stripMargin

  /** q249: streaming deduplication — `dropDuplicates` through the real
    * StreamingDeduplicate exec (per-key state, emit-on-first-sight in
    * Append mode, so a single AvailableNow batch emits exactly the
    * distinct set) against the batch DISTINCT oracle. Completes the
    * stateful-exec coverage: mapGroupsWithState (q233), stream-stream
    * join (q239), windowed agg (q247), dedup (here). Unbounded key state
    * is fine for a bounded replay; an endless production stream would use
    * dropDuplicatesWithinWatermark so the state ages out — that aging
    * path is q329's gate. */
  private def q249(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    val streamPath = {
      val f = new java.io.File(path)
      if (f.isDirectory) path
      else s"$dir/[${path.split('/').last.head}]${path.split('/').last.tail}"
    }
    graft.streaming.StreamHarness.runToTable(
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1000000")
          .parquet(streamPath)
          .select($"user_id", $"event_type")
          .dropDuplicates("user_id", "event_type"),
        "q249_sink_", OutputMode.Append(), noDataBatches = false)
      .select($"user_id", $"event_type")
      .orderBy($"user_id", $"event_type")
  }
  private val q249Sql =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** q297: streaming SESSION-WINDOW aggregation — `session_window` under
    * a watermark through Spark's merging-session stateful exec
    * (MergingSessionsExec + SessionWindowStateStoreSave), the one stateful
    * operator family the q233/q239/q247/q249/q264/q285 set did not yet
    * exercise. Sessions are variable-length state that MERGES when a new
    * event bridges two open sessions — unlike fixed windows, the state
    * key set mutates per batch, which is exactly what the dedicated exec
    * pair exists for. Append mode (the only mode the session exec
    * supports for flush-on-watermark) emits a session once the watermark
    * passes its END (= last event + gap); with a zero-delay watermark the
    * final no-data micro-batch of an AvailableNow run flushes every
    * session except each stream-tail session still inside its gap
    * horizon. The oracle replays BOTH the session assembly (q193's
    * gaps-and-islands construction, closed-boundary `diff > gap`) and the
    * eviction rule: emitted iff last_event + gap <= max event time over
    * the whole stream, on the µs lattice with the watermark's ms
    * truncation applied — so the hash match pins the merge semantics AND
    * the append-mode flush contract. State per open session is one
    * (start, end, count) triple — constant per key; at 100 TB the state
    * store holds only open sessions inside the watermark horizon. */
  private def q297(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    val streamPath = {
      val f = new java.io.File(path)
      if (f.isDirectory) path
      else s"$dir/[${path.split('/').last.head}]${path.split('/').last.tail}"
    }
    val gapUs = 30L * 60L * 1000000L
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1000000")
      .parquet(streamPath)
      .select($"user_id",
        (if (schema("ts").dataType ==
          org.apache.spark.sql.types.LongType)
          timestamp_micros(expr("ts div 1000"))
        else $"ts".cast("timestamp")).as("ets"))
    graft.streaming.StreamHarness.runToTable(
        src.withWatermark("ets", "0 seconds")
          .groupBy($"user_id", session_window($"ets", "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events")),
        "q297_sink_", OutputMode.Append())
      .select($"user_id",
        unix_micros($"sw.start").as("session_start_us"),
        (unix_micros($"sw.end") - unix_micros($"sw.start") - gapUs)
          .as("span_us"),
        $"n_events")
      .orderBy($"user_id", $"session_start_us")
  }
  private val q297Sql =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu FROM events),
      |l AS (SELECT *, lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu) AS prev
      |      FROM e),
      |f AS (SELECT *, CASE WHEN prev IS NULL OR tsu - prev > 1800000000
      |        THEN 1 ELSE 0 END AS brk FROM l),
      |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY tsu
      |        ROWS UNBOUNDED PRECEDING) AS sid FROM f)
      |SELECT user_id, min(tsu) AS session_start_us,
      |  max(tsu) - min(tsu) AS span_us,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM s GROUP BY user_id, sid
      |HAVING max(tsu) + 1800000000
      |  <= ((SELECT max(tsu) FROM e) // 1000) * 1000
      |ORDER BY user_id, session_start_us""".stripMargin

  /** q298: stream-stream LEFT OUTER interval join — q239's
    * purchase×preceding-hour-click pairing, but emitting a NULL-click row
    * for every purchase that finds no click, which exercises the half of
    * the symmetric-hash-join exec q239 cannot: outer-row emission is
    * deferred until the state watermark proves no future match can
    * arrive, then fires during state eviction (here, in the final
    * no-data micro-batch). The oracle replays both halves exactly:
    * matched pairs are the plain interval join; null rows are the
    * unmatched purchases whose event time has fallen beneath the final
    * GLOBAL watermark — which is the MIN over the two watermark nodes'
    * own maxima (max purchase ts vs max click ts, each ms-truncated)
    * minus the 1 h delay, NOT the max over all events: Spark advances
    * the query watermark at the pace of the SLOWEST input, a semantic
    * this gate pins empirically (at sf0.001 the click side trails the
    * purchase side by 3.9 h and exactly the purchases between the two
    * cutoffs stay un-emitted) — purchases above it are still in state
    * when the bounded replay ends and are correctly ABSENT. State is bounded by the
    * watermark + range condition exactly as in q239; the outer side adds
    * only a matched/unmatched bit per buffered row. */
  private def q298(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    val streamPath = {
      val f = new java.io.File(path)
      if (f.isDirectory) path
      else s"$dir/[${path.split('/').last.head}]${path.split('/').last.tail}"
    }
    def src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1000000")
      .parquet(streamPath)
      .select($"user_id", $"event_id", $"event_type",
        (if (schema("ts").dataType ==
          org.apache.spark.sql.types.LongType)
          timestamp_micros(expr("ts div 1000"))
        else $"ts".cast("timestamp")).as("ets"))
    val purchases = src.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_event"),
        $"ets".as("pts"))
      .withWatermark("pts", "1 hour")
    val clicks = src.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("click_event"),
        $"ets".as("cts"))
      .withWatermark("cts", "1 hour")
    graft.streaming.StreamHarness.runToTable(
        purchases.join(clicks,
          $"user_id" === $"c_user" &&
            $"cts" >= $"pts" - expr("INTERVAL 1 HOUR") && $"cts" <= $"pts",
          "leftOuter"),
        "q298_sink_", OutputMode.Append())
      .select($"purchase_event", $"click_event", $"user_id",
        unix_micros($"pts").as("purchase_ts_us"),
        unix_micros($"cts").as("click_ts_us"))
      .orderBy($"purchase_event", $"click_event")
  }
  private val q298Sql =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    epoch_us(ts) AS tsu FROM events),
      |p AS (SELECT user_id, event_id AS purchase_event, tsu AS ptsu
      |      FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT user_id AS c_user, event_id AS click_event, tsu AS ctsu
      |      FROM e WHERE event_type = 'click'),
      |m AS (SELECT p.purchase_event, c.click_event, p.user_id,
      |        p.ptsu, c.ctsu
      |      FROM p JOIN c ON p.user_id = c.c_user
      |        AND c.ctsu BETWEEN p.ptsu - 3600000000 AND p.ptsu),
      |wm AS (SELECT least(
      |    (max(CASE WHEN event_type = 'purchase' THEN tsu END) // 1000) * 1000,
      |    (max(CASE WHEN event_type = 'click' THEN tsu END) // 1000) * 1000)
      |  - 3600000000 AS w FROM e)
      |SELECT purchase_event, click_event, user_id,
      |  ptsu AS purchase_ts_us, ctsu AS click_ts_us FROM m
      |UNION ALL
      |SELECT p.purchase_event, NULL AS click_event, p.user_id,
      |  p.ptsu AS purchase_ts_us, NULL AS click_ts_us
      |FROM p
      |WHERE p.purchase_event NOT IN (SELECT purchase_event FROM m)
      |  AND p.ptsu < (SELECT w FROM wm)
      |ORDER BY purchase_event, click_event""".stripMargin

  /** q312: stream-STATIC enrichment join — the dimension-lookup shape
    * every streaming pipeline runs first (enrich each event with its
    * customer's nation before aggregating), through the real
    * FileStreamSource → per-micro-batch BroadcastHashJoin path (the
    * static side re-plans per batch, which is what makes slowly-changing
    * dims pick up new snapshots between batches — a DIFFERENT exec
    * contract from q239's stateful stream-stream join: no state store,
    * no watermark, the join itself is stateless). Update-mode grouped
    * totals per nation are the final state after the single AvailableNow
    * batch; the oracle is the identical batch join+group. Events whose
    * user has no dimension row drop (inner join), which the oracle
    * replays. */
  private def q312(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    val streamPath = {
      val f = new java.io.File(path)
      if (f.isDirectory) path
      else s"$dir/[${path.split('/').last.head}]${path.split('/').last.tail}"
    }
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val dim = s.read.parquet(s"$dir/customer.parquet")
      .select($"c_custkey", $"c_nationkey".cast("long").as("nation"))
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1000000")
      .parquet(streamPath)
      .select($"user_id", $"event_type", $"value")
    graft.streaming.StreamHarness.runChecked(
        src.join(broadcast(dim), $"user_id" === $"c_custkey")
          .groupBy($"nation")
          .agg(count(lit(1)).as("n_events"),
            sum($"value".cast(dec)).as("sum_v"),
            count(when($"event_type" === "purchase", 1)).as("n_purchases")),
        "q312_sink_", OutputMode.Update(), noDataBatches = false) { q =>
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches == 1,
        s"q312 expects ONE data micro-batch (Update-mode last emission is " +
          s"then the final state); got $dataBatches")
    }
      .select($"nation", $"n_events",
        round($"sum_v".cast("double"), 2).as("sum_value"), $"n_purchases")
      .orderBy($"nation")
  }
  private val q312Sql =
    """SELECT CAST(c.c_nationkey AS BIGINT) AS nation,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  round(CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE), 2)
      |    AS sum_value,
      |  CAST(count(CASE WHEN e.event_type = 'purchase' THEN 1 END)
      |    AS BIGINT) AS n_purchases
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q326: CHAINED stateful operators — a stream-stream interval join
    * (q239's purchase×preceding-hour-click pairing) feeding a tumbling
    * 1-hour windowed aggregation **in the same streaming query**, the
    * multi-stateful-operator topology Spark supports since 3.5
    * (SPARK-40925) and the one streaming shape the q233…q312 family had
    * not yet exercised: two stateful execs in one pipeline, with the
    * watermark PROPAGATED through the first into the second rather than
    * read off a source.
    *
    * The semantic this gate pins is exactly that propagation rule. The
    * downstream aggregation does not see the global watermark
    * (min over both inputs' ms-floored maxima − the 1 h delay); it sees
    * the JOIN'S OUTPUT watermark, which the simulator lowers by the join
    * condition's event-time range: a click at `cts` can still match
    * purchases up to `pts = cts + 1h`, so click state (and hence the
    * join's output event-time floor) lags the global watermark by the
    * 1-hour interval. Windows flush in Append mode iff
    * `window_end ≤ global_wm − 1h(join interval)`.
    * Empirically pinned (COVERAGE.md §q326, sf0.01): the final
    * batch window ends at 1706652000000000 µs — BELOW the naive global
    * watermark 1706653497667000 but ABOVE the join-output watermark
    * 1706649897667000 — and the streaming run withholds exactly that
    * window, so the oracle's extra −1h is observably real, not a guess
    * (at sf0.001 every window clears both cutoffs and streaming == batch).
    *
    * Scale notes: join state is bounded by watermark + range condition as
    * in q239; agg state is one (count, sum) pair per open window — the
    * chained topology adds no state class, only the lower eviction
    * horizon. The oracle replays join, window, and flush rule in DuckDB;
    * sums surface as BIGINT on both sides (no wide-decimal hash trap). */
  private def q326(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    val streamPath = {
      val f = new java.io.File(path)
      if (f.isDirectory) path
      else s"$dir/[${path.split('/').last.head}]${path.split('/').last.tail}"
    }
    def src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1000000")
      .parquet(streamPath)
      .select($"user_id", $"event_id", $"event_type",
        (if (schema("ts").dataType ==
          org.apache.spark.sql.types.LongType)
          timestamp_micros(expr("ts div 1000"))
        else $"ts".cast("timestamp")).as("ets"))
    val purchases = src.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_event"),
        $"ets".as("pts"))
      .withWatermark("pts", "1 hour")
    val clicks = src.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("click_event"),
        $"ets".as("cts"))
      .withWatermark("cts", "1 hour")
    graft.streaming.StreamHarness.runToTable(
        purchases.join(clicks,
          $"user_id" === $"c_user" &&
            $"cts" >= $"pts" - expr("INTERVAL 1 HOUR") && $"cts" <= $"pts")
          .groupBy(window($"pts", "1 hour").as("w"))
          .agg(count(lit(1)).as("n_pairs"),
            sum($"click_event").as("click_sum")),
        "q326_sink_", OutputMode.Append())
      .select(unix_micros($"w.start").as("window_start_us"),
        $"n_pairs", $"click_sum")
      .orderBy($"window_start_us")
  }
  private val q326Sql =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |    epoch_us(ts) AS tsu FROM events),
      |p AS (SELECT user_id, tsu AS ptsu FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT user_id AS c_user, event_id AS click_event, tsu AS ctsu
      |      FROM e WHERE event_type = 'click'),
      |wm AS (SELECT least(
      |    (max(CASE WHEN event_type = 'purchase' THEN tsu END) // 1000) * 1000,
      |    (max(CASE WHEN event_type = 'click' THEN tsu END) // 1000) * 1000)
      |  - 3600000000 - 3600000000 AS cutoff FROM e)
      |SELECT (ptsu // 3600000000) * 3600000000 AS window_start_us,
      |  CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(sum(click_event) AS BIGINT) AS click_sum
      |FROM p JOIN c ON p.user_id = c.c_user
      |  AND c.ctsu BETWEEN p.ptsu - 3600000000 AND p.ptsu
      |WHERE (ptsu // 3600000000) * 3600000000 + 3600000000
      |  <= (SELECT cutoff FROM wm)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q329: `dropDuplicatesWithinWatermark` — the state-AGING dedup q249's
    * scaladoc defers ("an endless production stream would use
    * dropDuplicatesWithinWatermark so the state ages out"): the
    * StreamingDeduplicateWithinWatermark exec, whose per-key state is
    * bounded by the watermark horizon instead of growing forever, under
    * a deterministic three-micro-batch file replay and the DuckDB batch
    * oracle. Every rule the oracle encodes was pinned empirically
    * (COVERAGE.md §q329, four runs):
    *  - FileStreamSource orders same-listing files by MODIFICATION TIME
    *    — staging forces chronological mtimes;
    *  - a key lookup hits state regardless of expiry (a not-yet-evicted
    *    entry absorbs even when already past the watermark);
    *  - an absorbed duplicate does NOT extend the entry — expiry is the
    *    EMITTED row's event time + delay, full stop (probe: A emitted at
    *    +0 with an in-batch dup at +50 was evicted by watermark +80 and
    *    re-emitted at +160);
    *  - eviction runs at the end of batch n against the un-lagged
    *    watermark (ms-floored max event time through batch n−1 − delay)
    *    and is INCLUSIVE (probe key X with expiry == watermark evicted);
    *  - the input late-filter lags one batch further (watermark through
    *    batch n−2) — with chronological staging it never bites, so the
    *    oracle need not model it (documented, not guessed).
    * Staging writes at most ONE row per (user_id, event_type) per batch
    * (the min-ts row per key per time tercile): within-batch arrival
    * order decides which duplicate's event time seeds the state expiry,
    * and arrival order is not a cross-engine-stable contract — the
    * within-batch arbitrary-survivor semantic is q38/q249's territory;
    * THIS gate pins the cross-batch aging. All three paths fire at gate
    * scale: fresh emission (E0), absorb-while-alive (keys recurring in
    * tercile 2), and evict-then-re-emit (tercile spans ≫ the 1 h delay,
    * so tercile-3 recurrences re-emit). State at 100 TB is one
    * (key → expiry) pair per key seen within the horizon — the unbounded
    * q249 state made bounded, which is the whole point. */
  private def q329(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = graft.Tables.events(s, dir)
      .select($"user_id", $"event_type", expr("ts div 1000").as("tsu"))
    val span = ev.agg(min($"tsu"), max($"tsu")).head()
    val (mn, mx) = (span.getLong(0), span.getLong(1))
    val (c1, c2) = (mn + (mx - mn) / 3, mn + (mx - mn) * 2 / 3)
    val keyrows = ev
      .withColumn("b", when($"tsu" <= c1, 0).when($"tsu" <= c2, 1)
        .otherwise(2))
      .groupBy($"user_id", $"event_type", $"b")
      .agg(min($"tsu").as("tsu"))
    graft.pipeline.Staging.withStagedDir("graft_q329_") { staged =>
      stageOrderedBatches(
        keyrows.select($"user_id", $"event_type", $"tsu", $"b"),
        staged, "b", 3)
      val schema = s.read.parquet(s"$staged/batch0000.parquet").schema
      val out = graft.streaming.StreamHarness.runToTable(
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$staged/[b]atch*.parquet")
          .select($"user_id", $"event_type",
            timestamp_micros($"tsu").as("ets"))
          .withWatermark("ets", "1 hour")
          .dropDuplicatesWithinWatermark("user_id", "event_type"),
        "q329_sink_", OutputMode.Append(), noDataBatches = false)
      // the memory sink retains the results, so the staging tree can go
      // when this block exits, on success or failure
      out
        .select($"user_id", $"event_type", unix_micros($"ets").as("ts_us"))
        .orderBy($"user_id", $"event_type", $"ts_us")
    }
  }
  private val q329Sql =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu
      |  FROM events),
      |sp AS (SELECT min(tsu) AS mn, max(tsu) AS mx FROM e),
      |kr AS (SELECT user_id, event_type,
      |    CASE WHEN tsu <= (SELECT mn + (mx - mn) // 3 FROM sp) THEN 0
      |         WHEN tsu <= (SELECT mn + (mx - mn) * 2 // 3 FROM sp) THEN 1
      |         ELSE 2 END AS b, min(tsu) AS tsu
      |  FROM e GROUP BY 1, 2, 3),
      |wm1 AS (SELECT (max(tsu) // 1000) * 1000 - 3600000000 AS w
      |  FROM kr WHERE b = 0),
      |e0 AS (SELECT user_id, event_type, tsu FROM kr WHERE b = 0),
      |e1 AS (SELECT k.user_id, k.event_type, k.tsu FROM kr k
      |  WHERE k.b = 1 AND NOT EXISTS (SELECT 1 FROM e0
      |    WHERE e0.user_id = k.user_id AND e0.event_type = k.event_type)),
      |alive AS (SELECT user_id, event_type FROM e0
      |    WHERE tsu + 3600000000 > (SELECT w FROM wm1)
      |  UNION ALL
      |  SELECT user_id, event_type FROM e1
      |    WHERE tsu + 3600000000 > (SELECT w FROM wm1)),
      |e2 AS (SELECT k.user_id, k.event_type, k.tsu FROM kr k
      |  WHERE k.b = 2 AND NOT EXISTS (SELECT 1 FROM alive a
      |    WHERE a.user_id = k.user_id AND a.event_type = k.event_type))
      |SELECT user_id, event_type, tsu AS ts_us FROM e0
      |UNION ALL SELECT user_id, event_type, tsu FROM e1
      |UNION ALL SELECT user_id, event_type, tsu FROM e2
      |ORDER BY user_id, event_type, ts_us""".stripMargin

  /** q333: CHAINED stateful aggregations — a windowed aggregation feeding
    * a SECOND windowed aggregation in the same streaming query (5-minute
    * purchase counts rolled up into 1-hour buckets via
    * `window(window_time(w5), '1 hour')`), the agg→agg half of the
    * multi-stateful-operator matrix whose join→agg half is q326. The
    * semantic pinned here is the CONTRAST with q326: an aggregation
    * propagates its input watermark UNDELAYED — the downstream agg
    * flushes hour windows with `end ≤ global_wm` exactly — whereas the
    * interval join lowers it by the join's event-time range. Pinned
    * empirically (COVERAGE.md §q333): with 10-minute outer windows at
    * sf0.01 the boundary window ending 1706653200000000 µs sits BETWEEN
    * `wm − 5min` and `wm`, and the streaming run EMITS it — so there is
    * provably no inner-window-size subtraction; the withheld next window
    * (end > wm) pins the upper side. Emitted hour rows are complete:
    * every inner 5-minute bucket of a flushed hour has itself flushed by
    * the same final batch (inner end ≤ outer end ≤ wm), which the
    * bounded single-data-batch replay guarantees deterministically.
    * State per open window is one (count) / (sum, max, count) tuple —
    * constant; the chained topology adds no state class. */
  private def q333(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    val streamPath = {
      val f = new java.io.File(path)
      if (f.isDirectory) path
      else s"$dir/[${path.split('/').last.head}]${path.split('/').last.tail}"
    }
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1000000")
      .parquet(streamPath)
      .filter($"event_type" === "purchase")
      .select($"event_id",
        (if (schema("ts").dataType ==
          org.apache.spark.sql.types.LongType)
          timestamp_micros(expr("ts div 1000"))
        else $"ts".cast("timestamp")).as("ets"))
    graft.streaming.StreamHarness.runToTable(
        src.withWatermark("ets", "1 hour")
          .groupBy(window($"ets", "5 minutes").as("w5"))
          .agg(count(lit(1)).as("n5"))
          .groupBy(window(window_time($"w5"), "1 hour").as("w60"))
          .agg(sum($"n5").as("n_purchases"), max($"n5").as("max_bucket"),
            count(lit(1)).as("n_buckets")),
        "q333_sink_", OutputMode.Append())
      .select(unix_micros($"w60.start").as("window_start_us"),
        $"n_purchases", $"max_bucket", $"n_buckets")
      .orderBy($"window_start_us")
  }
  private val q333Sql =
    """WITH e AS (SELECT epoch_us(ts) AS tsu FROM events
      |  WHERE event_type = 'purchase'),
      |w5 AS (SELECT tsu - tsu % 300000000 AS w5s,
      |    count(*) AS n5 FROM e GROUP BY 1),
      |wm AS (SELECT (max(tsu) // 1000) * 1000 - 3600000000 AS w FROM e),
      |h AS (SELECT w5s - w5s % 3600000000 AS window_start_us,
      |    CAST(sum(n5) AS BIGINT) AS n_purchases,
      |    CAST(max(n5) AS BIGINT) AS max_bucket,
      |    CAST(count(*) AS BIGINT) AS n_buckets
      |  FROM w5 GROUP BY 1)
      |SELECT window_start_us, n_purchases, max_bucket, n_buckets FROM h
      |WHERE window_start_us + 3600000000 <= (SELECT w FROM wm)
      |ORDER BY 1""".stripMargin

  /** q336: CHAINED dedup→aggregation — a windowed aggregation DOWNSTREAM
    * of `dropDuplicatesWithinWatermark` in the same streaming query, the
    * one stateful chaining pair the q326 (join→agg) / q333 (agg→agg)
    * matrix left untested. Input staging is EXACTLY q329's pinned
    * 3-tercile-batch replay (one min-ts row per (key, tercile),
    * chronological mtimes), so the dedup stage's emissions are q329's
    * already-gated rule set (fresh E0 / absorb-while-alive /
    * evict-then-re-emit); the NEW semantic pinned here is watermark
    * propagation through the dedup: it passes event time UNMODIFIED, so
    * the downstream Append-mode 6-hour window flushes against the
    * UNDELAYED global watermark — final flush (AvailableNow's trailing
    * batch) emits exactly the windows with end ≤ ms-floored max staged
    * event time − 1 h, counting EMITTED rows only (duplicates absorbed
    * by the dedup state never reach the window state). No emitted row
    * is ever dropped late by the agg: both stateful ops share the same
    * lagged (through batch n−2) input-filter watermark, so any row the
    * dedup passes has window end above that filter — pinned on random
    * fixtures by DedupThenAggPropertySpec (which includes the case an
    * n−1 filter model would wrongly drop). The replay is deterministic,
    * not racy.
    *
    * Scale shape: state is one (key → expiry) pair inside the horizon
    * (dedup) + one count per open 6 h window (agg) — both bounded;
    * the two execs share the micro-batch lifecycle, and at real scale
    * the window counts partial-aggregate map-side before the exchange. */
  private def q336(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = graft.Tables.events(s, dir)
      .select($"user_id", $"event_type", expr("ts div 1000").as("tsu"))
    val span = ev.agg(min($"tsu"), max($"tsu")).head()
    val (mn, mx) = (span.getLong(0), span.getLong(1))
    val (c1, c2) = (mn + (mx - mn) / 3, mn + (mx - mn) * 2 / 3)
    val keyrows = ev
      .withColumn("b", when($"tsu" <= c1, 0).when($"tsu" <= c2, 1)
        .otherwise(2))
      .groupBy($"user_id", $"event_type", $"b")
      .agg(min($"tsu").as("tsu"))
    graft.pipeline.Staging.withStagedDir("graft_q336_") { staged =>
      stageOrderedBatches(
        keyrows.select($"user_id", $"event_type", $"tsu", $"b"),
        staged, "b", 3)
      val schema = s.read.parquet(s"$staged/batch0000.parquet").schema
      val out = graft.streaming.StreamHarness.runToTable(
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$staged/[b]atch*.parquet")
          .select($"user_id", $"event_type",
            timestamp_micros($"tsu").as("ets"))
          .withWatermark("ets", "1 hour")
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .groupBy(window($"ets", "6 hours").as("w6"))
          .agg(count(lit(1)).as("n_rows"),
            sum(when($"event_type" === "purchase", 1L).otherwise(0L))
              .as("n_purchases")),
        "q336_sink_", OutputMode.Append())
      out
        .select(unix_micros($"w6.start").as("window_start_us"),
          $"n_rows", $"n_purchases")
        .orderBy($"window_start_us")
    }
  }
  private val q336Sql =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu
      |  FROM events),
      |sp AS (SELECT min(tsu) AS mn, max(tsu) AS mx FROM e),
      |kr AS (SELECT user_id, event_type,
      |    CASE WHEN tsu <= (SELECT mn + (mx - mn) // 3 FROM sp) THEN 0
      |         WHEN tsu <= (SELECT mn + (mx - mn) * 2 // 3 FROM sp) THEN 1
      |         ELSE 2 END AS b, min(tsu) AS tsu
      |  FROM e GROUP BY 1, 2, 3),
      |wm1 AS (SELECT (max(tsu) // 1000) * 1000 - 3600000000 AS w
      |  FROM kr WHERE b = 0),
      |wmf AS (SELECT (max(tsu) // 1000) * 1000 - 3600000000 AS w FROM kr),
      |e0 AS (SELECT user_id, event_type, tsu FROM kr WHERE b = 0),
      |e1 AS (SELECT k.user_id, k.event_type, k.tsu FROM kr k
      |  WHERE k.b = 1 AND NOT EXISTS (SELECT 1 FROM e0
      |    WHERE e0.user_id = k.user_id AND e0.event_type = k.event_type)),
      |alive AS (SELECT user_id, event_type FROM e0
      |    WHERE tsu + 3600000000 > (SELECT w FROM wm1)
      |  UNION ALL
      |  SELECT user_id, event_type FROM e1
      |    WHERE tsu + 3600000000 > (SELECT w FROM wm1)),
      |e2 AS (SELECT k.user_id, k.event_type, k.tsu FROM kr k
      |  WHERE k.b = 2 AND NOT EXISTS (SELECT 1 FROM alive a
      |    WHERE a.user_id = k.user_id AND a.event_type = k.event_type)),
      |em AS (SELECT * FROM e0 UNION ALL SELECT * FROM e1
      |  UNION ALL SELECT * FROM e2),
      |w AS (SELECT tsu - tsu % 21600000000 AS window_start_us,
      |    CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_purchases
      |  FROM em GROUP BY 1)
      |SELECT window_start_us, n_rows, n_purchases FROM w
      |WHERE window_start_us + 21600000000 <= (SELECT w FROM wmf)
      |ORDER BY window_start_us""".stripMargin

  /** q337: flatMapGroupsWithState sessionization under the ORACLE — the
    * one stateful exec the gate matrix lacked (mapGroupsWithState q233,
    * transformWithState q264/q285, dedup-within-wm q329, chained pairs
    * q326/q333/q336; sessionize itself was spec-only because Append-mode
    * tails never flush on a bounded replay). Gated by construction:
    * SEVEN chronological staged batches — per-tercile per-user min then
    * max (six batches; per-user arrival is chronological even though
    * cross-user batch ranges overlap, and every batch's minimum stays
    * within the gap of the previous batches' maximum, which keeps every
    * row above fMGWS's EVICTION-watermark late filter — the stricter
    * filter this exec uses, pinned by FmgwsLateFilterSpec, and asserted
    * loudly at staging time below), then a SENTINEL
    * watermark-advancer row 10 days past the corpus — so every real
    * session flushes: non-final sessions by the gap-break path, final
    * sessions by the EventTimeTimeout path (the sentinel lifts the final
    * watermark above every real gap horizon), and the sentinel's own
    * session is the withheld tail. All three closure paths fire at gate
    * scale (≈300 breaks / ≈150 timeouts / 1 withheld; ≈half the sessions
    * are multi-event via cross-boundary merges, incl. the duplicate-
    * arrival extend when a tercile has one event so min = max). The
    * oracle is the classic gaps-and-islands rewrite over the staged
    * multiset — per-user islands split where the gap exceeds 3 days —
    * emitting every island of every real user.
    *
    * Scale shape: state is ONE OpenSession struct per live key, evicted
    * by event-time timeout — the bounded-session-state contract; the
    * staging aggregates are two grouped min/max passes on (user,
    * tercile). */
  private def q337(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val GapMs = 3L * 86400000L
    val ev = graft.Tables.events(s, dir)
      .select($"user_id", expr("ts div 1000000").as("tsm"))
    val span = ev.agg(min($"tsm"), max($"tsm")).head()
    val (mn, mx) = (span.getLong(0), span.getLong(1))
    val (c1, c2) = (mn + (mx - mn) / 3, mn + (mx - mn) * 2 / 3)
    val tb = ev.withColumn("b",
      when($"tsm" <= c1, 0).when($"tsm" <= c2, 1).otherwise(2))
    val mins = tb.groupBy($"user_id", $"b").agg(min($"tsm").as("tsm"))
      .select($"user_id", ($"b" * 2).as("ord"), $"tsm")
    val maxs = tb.groupBy($"user_id", $"b").agg(max($"tsm").as("tsm"))
      .select($"user_id", ($"b" * 2 + 1).as("ord"), $"tsm")
    val sentinel = s.range(1).select(lit(-1L).as("user_id"),
      lit(6).as("ord"), lit(mx + 10L * 86400000L).as("tsm"))
    val rows = mins.unionByName(maxs).unionByName(sentinel)
    // STAGING LEGALITY: fMGWS drops input below the eviction watermark
    // (max seen so far − gap), so every batch's min must sit within the
    // gap of all previous batches' max — else a row would silently
    // vanish and the oracle diverge. Holds by tercile structure unless a
    // user's whole tercile precedes another user's first tercile event
    // by > gap (vanishingly unlikely on organic corpora); fail loudly
    // rather than hash-mismatch. Bounded collect: 7 rows.
    val batchStats = rows.groupBy($"ord")
      .agg(min($"tsm").as("mn"), max($"tsm").as("mx"))
      .orderBy($"ord").collect()
    batchStats.foldLeft(Long.MinValue) { (seenMax, r) =>
      val (mnB, mxB) = (r.getLong(1), r.getLong(2))
      require(seenMax == Long.MinValue || mnB > seenMax - GapMs,
        s"q337 staging: batch ${r.get(0)} min $mnB is below the eviction " +
          s"watermark ${seenMax - GapMs} — a staged row would be dropped")
      math.max(seenMax, mxB)
    }
    graft.pipeline.Staging.withStagedDir("graft_q337_") { staged =>
      stageOrderedBatches(rows.select($"user_id", $"tsm", $"ord"),
        staged, "ord", 7)
      val schema = s.read.parquet(s"$staged/batch0000.parquet").schema
      val events = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$staged/[b]atch*.parquet")
        .select($"user_id", timestamp_millis($"tsm").as("ts"),
          lit("e").as("event_type"), lit(0.0).as("value"))
        .as[graft.streaming.StreamingOps.Event]
      val out = graft.streaming.StreamHarness.runToTable(
        graft.streaming.StreamingOps.sessionize(events, gapSeconds = 3L * 86400L)
          .toDF(),
        "q337_sink_", OutputMode.Append())
      out
        .select($"user_id", unix_millis($"session_start").as("start_ms"),
          unix_millis($"session_end").as("end_ms"), $"n_events")
        .orderBy($"user_id", $"start_ms")
    }
  }
  private val q337Sql =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS tsm FROM events),
      |sp AS (SELECT min(tsm) AS mn, max(tsm) AS mx FROM e),
      |tb AS (SELECT user_id, tsm,
      |    CASE WHEN tsm <= (SELECT mn + (mx - mn) // 3 FROM sp) THEN 0
      |         WHEN tsm <= (SELECT mn + (mx - mn) * 2 // 3 FROM sp) THEN 1
      |         ELSE 2 END AS b
      |  FROM e),
      |kr AS (
      |  SELECT user_id, min(tsm) AS tsm FROM tb GROUP BY user_id, b
      |  UNION ALL
      |  SELECT user_id, max(tsm) FROM tb GROUP BY user_id, b),
      |o AS (SELECT user_id, tsm,
      |    CASE WHEN lag(tsm) OVER (PARTITION BY user_id ORDER BY tsm)
      |        IS NULL
      |      OR tsm - lag(tsm) OVER (PARTITION BY user_id ORDER BY tsm)
      |        > 259200000
      |      THEN 1 ELSE 0 END AS brk
      |  FROM kr),
      |isl AS (SELECT user_id, tsm,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY tsm) AS sid
      |  FROM o)
      |SELECT user_id, min(tsm) AS start_ms, max(tsm) AS end_ms,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM isl GROUP BY user_id, sid
      |ORDER BY user_id, start_ms""".stripMargin

  /** q357: the RATE source under Trigger.ProcessingTime — the one
    * trigger mode the AvailableNow file replays cannot exercise: a live
    * always-on micro-batch cadence with no terminal batch. The rate
    * source emits the consecutive LONG sequence 0, 1, 2, … with
    * wall-clock timestamps; the query keeps the first N = 1000 values,
    * the driver polls the memory sink until the full prefix has
    * arrived (rowsPerSecond and the trigger interval are sized so this
    * spans SEVERAL live micro-batches), then stops the query. Gated
    * output is (count, Σv, Σv²) of the delivered values — independent
    * of where batch boundaries fell — so a hash match proves the
    * ProcessingTime pipeline delivered the sequence exactly once,
    * gap-free and duplicate-free, across an arbitrary live cadence.
    * The oracle is the closed form over DuckDB's range(0, N).
    *
    * Scale shape: the rate source is the Kafka stand-in available to a
    * bare JVM; the plan (source → pushed filter → sink) is the minimal
    * always-on pipeline, and the gate's cost is wall-clock cadence
    * (~0.5 s of live batches), not data. */
  private def q357(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = 1000L
    val sink = "q357_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = s.readStream.format("rate")
      .option("rowsPerSecond", "2500")
      .load()
      .filter($"value" < n)
      .select($"value")
      .writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    // poll until the full prefix landed; the hard deadline turns a
    // wedged stream into a loud gate failure instead of a hang, and the
    // exception check fails FAST if the query died at startup instead
    // of spinning count() jobs for the whole deadline
    val deadline = System.nanoTime() + 120L * 1000L * 1000L * 1000L
    while (s.table(sink).count() < n && q.exception.isEmpty &&
      System.nanoTime() < deadline)
      Thread.sleep(50)
    q.stop()
    q.awaitTermination() // rethrows the stream's exception if it died
    require(s.table(sink).count() == n,
      s"q357: rate stream delivered ${s.table(sink).count()} of $n rows " +
        "before the deadline")
    val out = s.table(sink)
      .agg(count(lit(1)).as("n"),
        sum($"value").as("value_sum"),
        sum($"value" * $"value").as("sq_sum"))
      .localCheckpoint(true)
    // the memory sink's backing view is session-lived: drop it so
    // repeated Verify/Bench invocations don't accumulate 1000-row views
    s.catalog.dropTempView(sink)
    out
  }
  private val q357Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(range) AS BIGINT) AS value_sum,
      |  CAST(sum(range * range) AS BIGINT) AS sq_sum
      |FROM range(0, 1000)""".stripMargin

  override def queries: Seq[QueryDef] = Seq(
    QueryDef("q357_stream_rate_processing_time", q357, Some(q357Sql)),
    QueryDef("q337_stream_fmgws_sessionize", q337, Some(q337Sql)),
    QueryDef("q336_stream_dedup_then_agg", q336, Some(q336Sql)),
    QueryDef("q239_stream_stream_join", q239, Some(q239Sql)),
    QueryDef("q247_stream_windowed_agg", q247, Some(q247Sql)),
    QueryDef("q249_stream_dedup", q249, Some(q249Sql)),
    QueryDef("q297_stream_session_window", q297, Some(q297Sql)),
    QueryDef("q298_stream_left_outer_join", q298, Some(q298Sql)),
    QueryDef("q312_stream_static_join", q312, Some(q312Sql)),
    QueryDef("q326_stream_chained_stateful", q326, Some(q326Sql)),
    QueryDef("q329_stream_dedup_within_wm", q329, Some(q329Sql)),
    QueryDef("q333_stream_chained_aggs", q333, Some(q333Sql)),
  )
}
