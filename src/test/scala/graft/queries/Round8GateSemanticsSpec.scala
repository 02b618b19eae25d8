package graft.queries

import graft.{SparkEntry, SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** Engine-internal cross-checks for the round-8 closing gates
  * (q297–q300) — each gate is DuckDB-hash-gated already; these specs pin
  * the SEMANTIC claims with an independent in-engine reformulation, so a
  * regression shows up as a readable diff rather than a hash flip.
  *
  *  - q297: the streaming session-window result must equal the BATCH
  *    `session_window` aggregation filtered by the append-mode flush rule
  *    (session end ≤ final watermark = ms-floored max event time under the
  *    zero-delay watermark).
  *  - q298: the streaming left-outer interval join must equal the batch
  *    left join whose null half is restricted by the global watermark —
  *    the MIN of the two watermark nodes' own maxima (ms-floored) − 1 h.
  *  - q299: Shapley efficiency — Σ_i φ_i = n!·(v(N) − v(∅)) holds exactly
  *    on the floored-ppm v because the Shapley operator is linear in v;
  *    v(N) is the overall conversion rate and v(∅) collapses to 1e6 when
  *    any user's FIRST event is a purchase (an empty-journey user
  *    converts by construction), recomputed here without any bitmask
  *    machinery.
  *  - q300: the sign projection preserves norms in the JL sense — every
  *    measured distortion sits inside a generous (0.2×, 5×) band of the
  *    unbiased 1e6 center — and one vector is replayed against a direct
  *    Scala evaluation of the same kernel.
  */
class Round8GateSemanticsSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("q297 streaming session windows == batch session_window + flush rule") {
    import spark.implicits._
    val gapUs = 30L * 60L * 1000000L
    val ev = Tables.events(spark, dir)
      .select($"user_id", timestamp_micros(expr("ts div 1000")).as("tsm"))
    val wmUs = {
      val maxUs = ev.agg(max(unix_micros($"tsm"))).head.getLong(0)
      (maxUs / 1000L) * 1000L // watermark tracks event time in ms
    }
    val batch = ev
      .groupBy($"user_id", session_window($"tsm", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .filter(unix_micros($"sw.end") <= wmUs)
      .select($"user_id",
        unix_micros($"sw.start").as("session_start_us"),
        (unix_micros($"sw.end") - unix_micros($"sw.start") - gapUs)
          .as("span_us"),
        $"n_events")
    val stream = SparkEntry.queries("q297_stream_session_window")(spark, dir)
    assert(stream.count() > 0)
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty,
      "streaming session windows diverge from batch + flush rule")
  }

  test("q298 streaming left-outer join == batch left join + min-node watermark") {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type",
        expr("ts div 1000").as("tsu"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_event"), $"tsu".as("ptsu"))
    val c = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("click_event"),
        $"tsu".as("ctsu"))
    // global watermark = min over the two nodes' own maxima (ms floor) - 1h
    val wm = math.min(
      (p.agg(max($"ptsu")).head.getLong(0) / 1000L) * 1000L,
      (c.agg(max($"ctsu")).head.getLong(0) / 1000L) * 1000L) - 3600000000L
    val m = p.join(c, $"user_id" === $"c_user" &&
      $"ctsu" >= $"ptsu" - 3600000000L && $"ctsu" <= $"ptsu")
    val matched = m.select($"purchase_event", $"click_event", $"user_id",
      $"ptsu".as("purchase_ts_us"), $"ctsu".as("click_ts_us"))
    val nulls = p.join(m.select($"purchase_event").distinct(),
        Seq("purchase_event"), "left_anti")
      .filter($"ptsu" < wm)
      .select($"purchase_event", lit(null).cast("long").as("click_event"),
        $"user_id", $"ptsu".as("purchase_ts_us"),
        lit(null).cast("long").as("click_ts_us"))
    val batch = matched.unionAll(nulls)
    val stream = SparkEntry.queries("q298_stream_left_outer_join")(spark, dir)
    assert(stream.filter($"click_event".isNull).count() > 0,
      "gate fixture must exercise the outer (null-emission) path")
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty,
      "streaming left-outer join diverges from batch + watermark rule")
  }

  test("q299 Shapley efficiency: sum of phi = n! * (v(full) - v(empty))") {
    import spark.implicits._
    val phiSum = SparkEntry.queries("q299_shapley_attribution")(spark, dir)
      .agg(sum($"phi_num")).head.getLong(0)
    // independent v(N)/v(∅): overall conversion rate; empty-journey users
    // are exactly those whose first event is a purchase (they convert by
    // construction, so v(∅) is 1e6 whenever any exists)
    val ev = Tables.events(spark, dir)
    val byUser = ev.groupBy($"user_id").agg(
      max(when($"event_type" === "purchase", 1).otherwise(0)).as("conv"),
      min(struct($"ts", $"event_id", $"event_type")).as("first"))
    val users = byUser.count()
    val convs = byUser.agg(sum($"conv")).head.getLong(0)
    val anyEmpty = byUser.filter($"first.event_type" === "purchase").count() > 0
    val vFull = convs * 1000000L / users
    val vEmpty = if (anyEmpty) 1000000L else 0L
    assert(phiSum == 24L * (vFull - vEmpty),
      s"efficiency violated: sum(phi)=$phiSum vs 24*(v(N)-v(empty))=" +
        s"${24L * (vFull - vEmpty)}")
  }

  test("q301 quantile matching: equal-size sources get identical value multisets") {
    import spark.implicits._
    val out = SparkEntry.queries("q301_quantile_match")(spark, dir)
    // the defining property of quantile normalization: after matching,
    // every (equal-sized) source carries the SAME multiset of normalized
    // values — the pooled reference values at the n_s aligned ranks
    val sets = out.groupBy($"source")
      .agg(sort_array(collect_list($"norm_chars")).as("m"))
      .select($"m").distinct().count()
    assert(sets == 1L,
      s"equal-size sources produced $sets distinct normalized multisets")
    // the one data-sized global order must ride DistributedScan, never a
    // single-partition window
    val hits = graft.tools.WindowAudit.unpartitionedDataWindows(
      out.queryExecution.optimizedPlan)
    assert(hits.isEmpty, hits.mkString("; "))
  }

  test("q304 retraction view: zero-count groups vanish from the maintained view") {
    import spark.implicits._
    val out = SparkEntry.queries("q304_retraction_view")(spark, dir)
    val baseGroups = Tables.events(spark, dir)
      .filter($"event_id" % 7 =!= 0)
      .select($"user_id", $"event_type").distinct()
    val vanished = baseGroups.join(
      out.select($"user_id", $"event_type"),
      Seq("user_id", "event_type"), "left_anti").count()
    assert(vanished > 0,
      "fixture must retract at least one whole group (else the " +
        "drop-on-zero path is untested)")
    assert(out.filter($"n_events" <= 0).isEmpty)
  }

  test("q305 Louvain phase-1 actually coarsens: 1 < #communities < #nodes") {
    import spark.implicits._
    val out = SparkEntry.queries("q305_louvain_phase1")(spark, dir)
    val nodes = out.count()
    val comms = out.select($"community").distinct().count()
    assert(comms > 1L && comms < nodes / 2L,
      s"degenerate partition: $comms communities over $nodes nodes " +
        "(all-singleton means no move ever won; one blob means the gain " +
        "comparison collapsed)")
  }

  test("q305 on an empty graph returns no rows and leaves no pins behind") {
    import spark.implicits._
    // one part per order: no co-purchase pair, so the edge list is empty
    val empty = tmpDir("graft-q305-empty")
    Seq((1L, 10L), (2L, 11L)).toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$empty/lineitem.parquet")
    val pinned0 = spark.sparkContext.getPersistentRDDs.keySet
    val out = SparkEntry.queries("q305_louvain_phase1")(spark, empty)
    assert(out.isEmpty)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- pinned0
    assert(left.isEmpty, s"q305 left ${left.size} checkpoint pins registered")
  }

  // Every iterative gate pins through one scope, so after it returns the
  // persistent RDDs it added must be exactly the pins its result still
  // reads: its plan's LogicalRDD leaves and what their lineage reaches.
  // A superseded round left registered shows up as an extra id; a
  // released pin the result still reads shows up as a freed leaf. The
  // session registers persisted RDDs weakly, so a leaked pin whose frame
  // was garbage-collected would drop out of the registry unseen; a
  // poller holds every RDD registered during the gate so that only an
  // explicit unpersist removes it.
  Seq("q94_bfs_reach", "q95_pagerank", "q217_coreness", "q236_adamic_adar",
    "q250_weighted_sssp", "q253_hits", "q254_temporal_reach",
    "q255_greedy_coverage", "q257_label_propagation", "q260_label_prop_ivf",
    "q261_personalized_pagerank", "q268_pseudo_diameter",
    "q272_stress_centrality", "q280_ktruss", "q291_assortativity",
    "q303_random_walks", "q305_louvain_phase1", "q307_luby_mis",
    "q314_activity_selection", "q338_maximal_spans",
    "q67_connected_components", "q59_ann_ivf", "q70_ivf_recall").foreach { gate =>
    test(s"${gate.takeWhile(_ != '_')} leaves only the pins its result reads") {
      import org.apache.spark.rdd.RDD
      import org.apache.spark.storage.StorageLevel
      val sc = spark.sparkContext
      val pinned0 = sc.getPersistentRDDs.keySet
      val seen = new java.util.concurrent.ConcurrentHashMap[Int, RDD[_]]()
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val poller = new Thread(() => while (!done.get) {
        sc.getPersistentRDDs.foreach { case (id, r) => seen.put(id, r) }
        Thread.sleep(2)
      })
      poller.start()
      val out = try {
        val df = SparkEntry.queries(gate)(spark, dir)
        df.collect()
        df
      } finally { done.set(true); poller.join() }
      val added = sc.getPersistentRDDs.keySet -- pinned0
      try {
        val leaves = out.queryExecution.analyzed.collectWithSubqueries {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
        }
        val reads = scala.collection.mutable.Set.empty[Int]
        def walk(r: RDD[_]): Unit =
          if (reads.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
        leaves.foreach(walk)
        assert(leaves.forall(_.getStorageLevel != StorageLevel.NONE),
          s"$gate's result reads a released pin")
        val stray = added -- reads
        assert(stray.isEmpty,
          s"$gate left ${stray.size} of ${added.size} pins its result does not read")
      } finally {
        added.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist()))
        seen.clear() // the held RDDs stay reachable until the checks are done
      }
    }
  }

  test("q306 best match equals the window-argmax reformulation; JW is symmetric here") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val out = SparkEntry.queries("q306_jw_best_match")(spark, dir).collect()
    assert(out.nonEmpty)
    // independent reformulation: window row_number over the same pairs
    val c = Tables.customer(spark, dir)
      .select($"c_custkey", $"c_name", expr("c_custkey div 100").as("blk"))
    val pairs = c.as("a").filter($"c_custkey" % 7 === 0)
      .join(c.as("b"), $"a.blk" === $"b.blk" && $"a.c_custkey" =!= $"b.c_custkey")
      .select($"a.c_custkey".as("probe_key"), $"b.c_custkey".as("cand_key"),
        graft.functions.stringsim
          .jaroWinklerPpm($"a.c_name", $"b.c_name").as("ppm"),
        graft.functions.stringsim
          .jaroWinklerPpm($"b.c_name", $"a.c_name").as("ppm_rev"))
    assert(pairs.filter($"ppm" =!= $"ppm_rev").count() == 0, "JW asymmetric")
    val w = Window.partitionBy($"probe_key").orderBy($"ppm".desc, $"cand_key")
    val viaWindow = pairs.withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"probe_key", $"cand_key", $"ppm").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    out.foreach { r =>
      val k = r.getAs[Long]("probe_key")
      assert(viaWindow(k) ==
        ((r.getAs[Long]("match_key"), r.getAs[Long]("best_ppm"))), s"probe $k")
    }
  }

  test("q307 Luby statuses partition the vertex set; MIS independent, covered covered") {
    import spark.implicits._
    val out = SparkEntry.queries("q307_luby_mis")(spark, dir)
      .localCheckpoint(true)
    val li = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_partkey")
    val edges = li.as("a").join(li.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" =!= $"b.l_partkey")
      .select($"a.l_partkey".as("src"), $"b.l_partkey".as("dst")).distinct()
      .localCheckpoint(true)
    // one status per vertex, vertices = graph's vertex set
    assert(out.groupBy($"node").count().filter($"count" > 1).count() == 0)
    assert(out.count() == edges.select($"src").distinct().count())
    val mis = out.filter($"status" === "mis").select($"node")
    // independence: no edge inside the MIS
    assert(edges.join(mis.select($"node".as("src")), Seq("src"), "leftsemi")
      .join(mis.select($"node".as("dst")), Seq("dst"), "leftsemi")
      .count() == 0, "MIS contains an edge")
    // every covered vertex really neighbors a MIS vertex
    val covered = out.filter($"status" === "covered").select($"node")
    val coveredWithMisNbr = edges
      .join(mis.select($"node".as("src")), Seq("src"), "leftsemi")
      .select($"dst".as("node")).distinct()
    assert(covered.join(coveredWithMisNbr, Seq("node"), "leftanti").count() == 0,
      "a covered vertex has no MIS neighbor")
    // actives never neighbor the MIS (they would have been covered)
    val active = out.filter($"status" === "active").select($"node")
    assert(active.join(coveredWithMisNbr, Seq("node"), "leftsemi").count() == 0,
      "an active vertex neighbors the MIS")
    // the gate's 3 rounds must do real work at this scale
    assert(mis.count() > 0 && covered.count() > 0)
  }

  test("q308 split maximizes SSE reduction: plain-Scala BigInt replay agrees") {
    import spark.implicits._
    val out = SparkEntry.queries("q308_changepoint")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getAs[Long]("split_day"), r.getAs[String]("gain_num"),
          r.getAs[Long]("gain_den")))).toMap
    assert(out.nonEmpty)
    // independent replay: daily cents cells -> exact BigInt argmax
    val cells = Tables.events(spark, dir)
      .groupBy($"event_type", pmod($"user_id", lit(20L)).as("bucket"),
        expr("ts div 86400000000000").as("day"))
      .agg(sum(round($"value" * 100).cast("long")).as("x"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(t => (t._1, t._2))
    cells.foreach { case (series, rows) =>
      val xs = rows.sortBy(_._3).map(t => (t._3, BigInt(t._4)))
      val n = xs.length
      if (n >= 2) {
        val stot = xs.map(_._2).sum
        var s1 = BigInt(0)
        val cand = (1 until n).map { k =>
          s1 += xs(k - 1)._2
          val d = s1 * (n - k) - (stot - s1) * k
          (xs(k - 1)._1, d * d, BigInt(k.toLong * (n - k)))
        }
        val best = cand.reduceLeft { (p, q) =>
          if (q._2 * p._3 > p._2 * q._3) q else p // strict beat, earlier wins ties
        }
        val got = out(series)
        assert(got._1 == best._1 && BigInt(got._2) == best._2 &&
          BigInt(got._3) == best._3, s"series $series")
      }
    }
  }

  test("q309 encoding is leakage-free: no fold's own rows enter its rate") {
    import spark.implicits._
    val out = SparkEntry.queries("q309_target_encoding")(spark, dir).collect()
    assert(out.nonEmpty)
    // independent replay from raw rows
    val raw = Tables.lineitem(spark, dir)
      .select($"l_suppkey", pmod($"l_orderkey", lit(5L)).as("fold"),
        when($"l_returnflag" === "R", 1L).otherwise(0L).as("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val bySupp = raw.groupBy(_._1)
    val gTot = raw.map(_._3).sum
    val gCnt = raw.length.toLong
    val byFold = raw.groupBy(_._2).map { case (f, rs) =>
      f -> ((rs.map(_._3).sum, rs.length.toLong)) }
    out.foreach { r =>
      val (supp, fold) = (r.getLong(0), r.getLong(1))
      val rs = bySupp(supp)
      val inFold = rs.filter(_._2 == fold)
      val others = rs.filter(_._2 != fold)
      assert(r.getAs[Long]("n_rows") == inFold.length)
      assert(r.getAs[Long]("oof_num") == others.map(_._3).sum, s"$supp/$fold")
      assert(r.getAs[Long]("oof_den") == others.length.toLong)
      val (num, den) =
        if (others.nonEmpty) (others.map(_._3).sum, others.length.toLong)
        else { val (fs, fn) = byFold(fold); (gTot - fs, gCnt - fn) }
      assert(r.getAs[Boolean]("used_fallback") == others.isEmpty)
      assert(r.getAs[Long]("enc_ppm") == (2000000L * num + den) / (2L * den))
    }
    // the cold-start path must actually be exercised at some scale; at
    // sf0.001 it may or may not fire — assert only the invariant above
  }

  test("q311 RAKE phrases are stopword-free runs; scores replay from word stats") {
    import spark.implicits._
    val out = SparkEntry.queries("q311_rake_keyphrases")(spark, dir).collect()
    assert(out.nonEmpty)
    // structural: no stopword inside any phrase; n_words consistent
    out.foreach { r =>
      val words = r.getAs[String]("phrase").split(" ")
      assert(!words.exists(w => w == "a" || w == "the"), r.getAs[String]("phrase"))
      assert(words.length.toLong == r.getAs[Long]("n_words"))
    }
    // replay: recompute corpus word stats from raw text, re-score a phrase
    val docs = Tables.documents(spark, dir)
      .select($"text").collect().map(_.getString(0))
    val runs = docs.flatMap { t =>
      t.split(" ").foldLeft(List(List.empty[String])) { (acc, w) =>
        if (w == "a" || w == "the") Nil :: acc
        else (w :: acc.head) :: acc.tail
      }.map(_.reverse).filter(_.nonEmpty)
    }
    val freq = runs.flatten.groupBy(identity).map { case (w, o) => w -> o.length.toLong }
    val degree = runs.flatMap(rn => rn.map(w => w -> rn.length.toLong))
      .groupBy(_._1).map { case (w, o) => w -> o.map(_._2).sum }
    def wscore(w: String) = (2000000L * degree(w) + freq(w)) / (2L * freq(w))
    out.foreach { r =>
      val ws = r.getAs[String]("phrase").split(" ")
      assert(ws.map(wscore).sum == r.getAs[Long]("score_ppm"),
        s"score mismatch for '${r.getAs[String]("phrase")}'")
      val n = runs.count(_.mkString(" ") == r.getAs[String]("phrase")).toLong
      assert(n == r.getAs[Long]("n"))
    }
  }

  test("q313 cascade forgets everything reachable and nothing else") {
    import spark.implicits._
    val out = SparkEntry.queries("q313_takedown_cascade")(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("n_deleted"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("n_dangling")))).toMap
    assert(out.keySet == Set("customer", "orders", "lineitem", "events"))
    // referential guarantee
    out.values.foreach { case (_, _, dangling) => assert(dangling == 0L) }
    // deleted + kept == totals, and the deleted counts equal a raw recount
    val cust = Tables.customer(spark, dir).select($"c_custkey").collect()
      .map(_.getLong(0))
    val forget = cust.filter(_ % 97 == 0).toSet
    assert(out("customer")._1 == forget.size.toLong &&
      out("customer")._2 == (cust.length - forget.size).toLong)
    val orders = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val delO = orders.filter(o => forget(o._2)).map(_._1).toSet
    assert(out("orders")._1 == delO.size.toLong)
    val li = Tables.lineitem(spark, dir).select($"l_orderkey").collect()
      .map(_.getLong(0))
    assert(out("lineitem")._1 == li.count(delO).toLong)
    val ev = Tables.events(spark, dir).select($"user_id").collect()
      .map(_.getLong(0))
    assert(out("events")._1 == ev.count(forget).toLong)
    // the forget set must be non-trivial at this scale for the gate to bite
    assert(forget.nonEmpty && delO.nonEmpty)
  }

  test("q314 picks equal the sequential greedy; schedule is conflict-free") {
    import spark.implicits._
    val out = SparkEntry.queries("q314_activity_selection")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getAs[Long]("pick_no"),
        r.getAs[Long]("event_id"), r.getAs[Long]("start_us"),
        r.getAs[Long]("end_us")))
      .groupBy(_._1)
    assert(out.nonEmpty)
    val iv = Tables.events(spark, dir)
      .select($"user_id", $"event_id", expr("ts div 1000").as("s"))
      .collect()
      .map { r =>
        val st = r.getLong(2)
        (r.getLong(0), r.getLong(1), st, st + (1 + r.getLong(1) % 7) * 600000000L)
      }.groupBy(_._1)
    iv.foreach { case (u, rows) =>
      // classic sequential greedy, capped at the gate's 5 rounds
      val sorted = rows.sortBy(t => (t._4, t._3, t._2))
      var cur = Long.MinValue
      val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      sorted.foreach { case (_, id, st, en) =>
        if (st >= cur && picks.length < 5) { picks += ((id, st, en)); cur = en }
      }
      val got = out.getOrElse(u, Array.empty).sortBy(_._2)
        .map(t => (t._3, t._4, t._5)).toSeq
      assert(got == picks.toSeq, s"user $u")
      // conflict-free
      got.sliding(2).foreach {
        case Seq(a, b) => assert(b._2 >= a._3, s"overlap for user $u")
        case _ =>
      }
    }
  }

  test("q315 estimator and exact join size replay from raw counts") {
    import spark.implicits._
    val out = SparkEntry.queries("q315_join_cardinality")(spark, dir).head()
    val fa = Tables.events(spark, dir).select($"user_id").collect()
      .map(_.getLong(0)).groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val fb = Tables.orders(spark, dir).select($"o_custkey").collect()
      .map(_.getLong(0)).groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val actual = fa.map { case (k, a) => a * fb.getOrElse(k, 0L) }.sum
    assert(out.getAs[Long]("actual") == actual)
    def top(m: Map[Long, Long]) =
      m.toSeq.sortBy { case (k, f) => (-f, k) }.take(20).toMap
    val (ha, hb) = (top(fa), top(fb))
    val (tsa, tda) = (fa.values.sum - ha.values.sum, (fa.size - ha.size).toLong)
    val (tsb, tdb) = (fb.values.sum - hb.values.sum, (fb.size - hb.size).toLong)
    val t1 = ha.collect { case (k, f) if hb.contains(k) => f * hb(k) }.sum
    val t2 = ha.collect { case (k, f) if !hb.contains(k) && tdb > 0 => f * (tsb / tdb) }.sum
    val t3 = hb.collect { case (k, f) if !ha.contains(k) && tda > 0 => f * (tsa / tda) }.sum
    val t4 = if (math.max(tda, tdb) > 0) tsa * tsb / math.max(tda, tdb) else 0L
    assert(out.getAs[Long]("estimate") == t1 + t2 + t3 + t4,
      s"estimator replay: got ${out.getAs[Long]("estimate")}, want ${t1 + t2 + t3 + t4}")
    assert(out.getAs[Long]("signed_err_ppm") ==
      ((t1 + t2 + t3 + t4) - actual) * 1000000L / actual)
  }

  test("q316 hard negatives: wrong-label only, rank-contiguous, truly hard") {
    import spark.implicits._
    val out = SparkEntry.queries("q316_hard_negatives")(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("anchor_label") != r.getAs[Long]("neg_label"))
      assert(r.getAs[Long]("neg_label") == r.getAs[Long]("neg_vec") % 7)
      val c = r.getAs[Double]("cos_sim")
      assert(c >= -1.0000005 && c <= 1.0000005)
    }
    // ranks contiguous from 1 per anchor, scores non-increasing
    out.groupBy(_.getAs[Long]("anchor")).foreach { case (a, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq ==
        (1L to sorted.length).toSeq, s"anchor $a ranks")
      val scores = sorted.map(_.getAs[Double]("cos_sim")).toSeq
      assert(scores == scores.sorted.reverse, s"anchor $a not score-ordered")
    }
    // exactness: the reported top negative IS the true bucket-restricted
    // maximum — brute-force replay of the anchor's bucket candidates
    // (hardness relative to the GLOBAL pool is a geometry property of the
    // corpus, not a miner contract: an 8-bit sign bucket on near-random
    // vectors correlates only mildly with cosine)
    val lab = VectorQueries.normed(spark, dir)
      .withColumn("label", pmod($"vec_id", lit(7L)))
      .withColumn("bucket", graft.functions.vector.signBits($"v", 0, 8))
    val all = lab.filter($"vec_id" % 23 === 0).as("a")
      .join(lab.as("b"),
        $"a.bucket" === $"b.bucket" && $"a.label" =!= $"b.label")
      .select($"a.vec_id".as("anchor"),
        round(graft.functions.vector.dot($"a.v", $"b.v") /
          ($"a.nrm" * $"b.nrm"), 6).as("c"))
      .collect().groupBy(_.getLong(0))
    out.groupBy(_.getAs[Long]("anchor")).foreach { case (a, rows) =>
      val trueMax = all(a).map(_.getDouble(1)).max
      val top = rows.minBy(_.getAs[Long]("rk")).getAs[Double]("cos_sim")
      assert(top == trueMax, s"anchor $a: top $top != bucket max $trueMax")
    }
    // and every anchor with candidates is present
    assert(out.map(_.getAs[Long]("anchor")).toSet == all.keySet)
  }

  test("q317 bitemporal cells replay from raw facts and are monotone") {
    import spark.implicits._
    val out = SparkEntry.queries("q317_bitemporal_asof")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) ->
        ((r.getAs[Long]("asof_ts_us"), r.getAs[Long]("asof_event_id"),
          r.getAs[String]("believed_type")))).toMap
    assert(out.nonEmpty)
    val raw = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .filter($"user_id" % 11 === 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val mn = raw.map(_._2).min; val mx = raw.map(_._2).max
    val cuts = Seq(1L, 2L).map(k => k -> (mn + (mx - mn) * k / 3)).toMap
    val want = (for {
      b <- 0L to 2L; k <- 1L to 2L
      (u, rows) <- raw.groupBy(_._1)
      vis = rows.filter(r => r._3 % 3 <= b && r._2 <= cuts(k))
      if vis.nonEmpty
    } yield {
      val m = vis.maxBy(r => (r._2, r._3))
      (b, k, u) -> ((m._2 / 1000, m._3, m._4))
    }).toMap
    assert(out == want, "bitemporal replay diverged")
    // monotonicity: the believed (ts, id) at a cell never regresses as the
    // cell grows in either dimension
    for (((b, k, u), (ts, id, _)) <- out; bb <- b to 2L; kk <- k to 2L)
      out.get((bb, kk, u)).foreach { case (ts2, id2, _) =>
        assert(ts2 > ts || (ts2 == ts && id2 >= id),
          s"cell ($bb,$kk) regressed vs ($b,$k) for user $u")
      }
  }

  test("q318 fertility: merging never grows token counts; sums replay from q213") {
    import spark.implicits._
    val out = SparkEntry.queries("q318_tokenizer_fertility")(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (w, t) = (r.getAs[Long]("words"), r.getAs[Long]("tokens"))
      assert(t <= w && t > 0, s"${r.getString(0)}: merges grew tokens")
      assert(r.getAs[Long]("fertility_ppm") == (2000000L * t + w) / (2L * w))
    }
    // cross-gate consistency: q213's per-doc encode sums to q318's totals
    val perDoc = SparkEntry.queries("q213_bpe_encode")(spark, dir)
      .select($"doc_id", $"n_before", $"n_after").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val srcOf = Tables.documents(spark, dir).select($"doc_id", $"source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val wantBySrc = perDoc.toSeq.groupBy { case (d, _) => srcOf(d) }
      .map { case (s0, xs) =>
        s0 -> ((xs.map(_._2._1).sum, xs.map(_._2._2).sum)) }
    out.foreach { r =>
      val (w, t) = wantBySrc(r.getString(0))
      assert(r.getAs[Long]("words") == w && r.getAs[Long]("tokens") == t,
        s"source ${r.getString(0)} diverges from q213's encode")
    }
  }

  test("q320-q322 audit artifacts replay from raw rows") {
    import spark.implicits._
    // q320: k-anonymity counts replay
    val kanon = SparkEntry.queries("q320_k_anonymity")(spark, dir).collect()
    val qi = Tables.customer(spark, dir)
      .select($"c_nationkey".cast("long"), $"c_mktsegment",
        expr("(cast(round(c_acctbal * 100) as bigint) + 100000) div 110000"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val classes = qi.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    kanon.foreach { r =>
      val nat = r.getLong(0)
      val cls = classes.filter(_._1._1 == nat)
      assert(r.getAs[Long]("n_classes") == cls.size.toLong)
      assert(r.getAs[Long]("n_violating") == cls.count(_._2 < 5).toLong)
      assert(r.getAs[Long]("suppressed_rows") == cls.values.filter(_ < 5).sum)
      assert(r.getAs[Long]("n_rows") == cls.values.sum)
    }
    assert(kanon.map(_.getAs[Long]("n_rows")).sum == qi.length.toLong)
    // q321: datasheet medians are true lower-median order statistics
    val sheet = SparkEntry.queries("q321_corpus_datasheet")(spark, dir).collect()
    val docs = Tables.documents(spark, dir)
      .select($"source", $"n_chars", $"text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1)
    sheet.foreach { r =>
      val rows = docs(r.getString(0))
      val sorted = rows.sortBy(t => (t._2, t._3))
      assert(r.getAs[Long]("median_chars") ==
        sorted((sorted.length + 1) / 2 - 1)._2, r.getString(0))
      assert(r.getAs[Long]("dup_surplus") ==
        (rows.length - rows.map(_._3).distinct.length).toLong)
    }
    // q322: flag rule — every flagged singleton really is alone in its
    // bucket, and flagged low-cosine rows carry a score below the cut
    val iso = SparkEntry.queries("q322_embedding_isolates")(spark, dir).collect()
    val buckets = VectorQueries.normed(spark, dir)
      .withColumn("bucket", graft.functions.vector.signBits($"v", 0, 8))
      .select($"vec_id", $"bucket").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    val sizes = buckets.groupBy(_._2).map { case (b, v) => b -> v.length }
    iso.foreach { r =>
      if (r.getAs[String]("reason") == "singleton_bucket") {
        assert(r.isNullAt(r.fieldIndex("best_cos")))
        assert(sizes(r.getAs[Number]("bucket").intValue()) == 1)
      } else assert(r.getAs[Double]("best_cos") < 0.1)
    }
  }

  test("q323 CUPED readout replays from raw per-user spend") {
    import spark.implicits._
    val out = SparkEntry.queries("q323_cuped_readout")(spark, dir).head()
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"ts", round($"value" * 100).cast("long").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cut = ev.map(_._2).min + (ev.map(_._2).max - ev.map(_._2).min) / 2
    val pu = ev.groupBy(_._1).map { case (u, rows) =>
      (u, BigInt(rows.filter(_._2 <= cut).map(_._3).sum),
        BigInt(rows.filter(_._2 > cut).map(_._3).sum))
    }.toSeq
    val n = BigInt(pu.size)
    val (sx, sy) = (pu.map(_._2).sum, pu.map(_._3).sum)
    val sxy = pu.map(t => t._2 * t._3).sum
    val sx2 = pu.map(t => t._2 * t._2).sum
    def halfUp(a: BigInt, b: BigInt) = (2 * 1000000 * a + b) / (2 * b)
    val theta = halfUp(n * sxy - sx * sy, n * sx2 - sx * sx)
    assert(BigInt(out.getAs[Long]("theta_ppm")) == theta)
    val g0 = pu.filter(_._1 % 2 == 0); val g1 = pu.filter(_._1 % 2 == 1)
    val (n0, n1) = (BigInt(g0.size), BigInt(g1.size))
    val a = g1.map(_._3).sum * n0 - g0.map(_._3).sum * n1
    val cc = g1.map(_._2).sum * n0 - g0.map(_._2).sum * n1
    assert(BigInt(out.getAs[Long]("diff_raw_ppm")) == halfUp(a, n1 * n0))
    assert(BigInt(out.getAs[Long]("diff_cuped_ppm")) ==
      (2 * (1000000 * a - theta * cc) + n1 * n0) / (2 * n1 * n0))
  }

  test("q300 JL distortion bounded; kernel replays in plain Scala") {
    import spark.implicits._
    val out = SparkEntry.queries("q300_jl_projection")(spark, dir)
      .collect()
    assert(out.nonEmpty)
    val dist = out.map(_.getAs[Long]("distortion_ppm")).distinct
    assert(dist.forall(d => d > 200000L && d < 5000000L),
      s"distortion outside the JL-plausible band: ${dist.min}..${dist.max}")
    // replay one vector's projection directly from the parquet floats
    val vid = out.head.getAs[Long]("vec_id")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter($"vec_id" === vid)
      .select($"embedding").head.getSeq[Float](0)
    val qv = emb.map(x => math.round(x.toDouble * 1000000.0)).toArray
    val expect = (0 until 16).map { j =>
      (0 until 64).map { k =>
        val h = ((j * 64 + k + 1).toLong * 2654435761L) % 4294967296L
        val s = if ((h / 2048L) % 2L == 0L) 1L else -1L
        qv(k) * s
      }.sum
    }
    val got = out.filter(_.getAs[Long]("vec_id") == vid).sortBy(_.getAs[Long]("j"))
      .map(_.getAs[Long]("proj_scaled")).toSeq
    assert(got == expect, s"projection kernel mismatch for vec $vid")
  }
}
