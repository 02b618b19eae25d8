package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.sql.{Date, Timestamp}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.{GraftSession, JsonEscape, SparkEntry}
import graft.pipeline._

/** One JSON object per line; run.py checks and aggregates them. */
final class Records(file: File) {
  private val out = new PrintWriter(Files.newBufferedWriter(file.toPath, StandardCharsets.UTF_8))

  def write(kind: String, fields: (String, Any)*): Unit = {
    out.println(Records.json(("kind" -> kind) +: fields))
    out.flush()
  }

  def close(): Unit = out.close()
}

object Records {
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => JsonEscape(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => JsonEscape(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      json(kv.asInstanceOf[Seq[(Any, Any)]].toMap)
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => JsonEscape(other.toString)
  }
}

/** The benchmark's JVM side. A single closed-loop client: each operation
  * starts only after the previous one has completed. Everything the
  * program sees is the generated input named by gen.py's plan file; every
  * call goes through a public entry point (PipelineRunner.runConfigured,
  * the four stage `run`s, Catalog.read, AnalystQueries, SparkEntry.queries).
  *
  * Arguments (all required): --workload --seed --seconds --trace --work
  * --cores --setups --python --gen, and --gates for the gates workload.
  */
object BenchMain {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val b = new BenchMain(opt)
    try b.run() finally b.close()
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secs(t0))
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
    f.delete()
  }
}

/** Heap in use right after a full collection, sampled after every timed
  * operation, and on `gates` after every gate: the live data the program
  * keeps from one call to the next (session state, caches, rules a gate
  * left behind). Per gate, so that the reading does not depend on which
  * gate the seeded order puts last. */
object LiveHeap {
  private var peak = 0L
  /** Collection time the samples forced, kept out of `spark.gc_s`. */
  var forcedGcMs = 0L

  /** Drains the listener bus, collects, gives Spark's ContextCleaner time
    * to drop the shuffle and broadcast blocks whose handles the collection
    * freed, and collects again, so that the reading does not depend on
    * events or cleaning in flight. */
  def sample(spark: SparkSession): Unit = {
    org.apache.spark.graft.BusDrain.drain(spark.sparkContext)
    val gc0 = Tracer.gcMs()
    System.gc()
    Thread.sleep(200)
    System.gc()
    forcedGcMs += Tracer.gcMs() - gc0
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def mb: Double = peak / (1024.0 * 1024.0)
}

final class BenchMain(opt: Map[String, String]) {
  import BenchMain._

  private val workload = opt("workload")
  private val seed = opt("seed").toLong
  private val seconds = opt("seconds").toDouble
  private val trace = opt("trace") == "1"
  private val work = new File(opt("work"))
  private val cores = opt("cores").toInt
  private val setups = opt("setups").toInt
  private val rec = new Records(new File(work, "records.jsonl"))

  def close(): Unit = rec.close()

  /** Plan lines written by gen.py, tab-separated. */
  private def plan(dir: File): Seq[Array[String]] =
    Files.readAllLines(new File(dir, "plan.tsv").toPath).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t"))

  private def generate(dir: File): Unit = {
    val cmd = Seq(opt("python"), opt("gen"), "--workload", workload,
      "--seed", seed.toString, "--out", dir.getPath)
    val p = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(new File(work, "gen.log"))
      .start()
    val rc = p.waitFor()
    if (rc != 0) throw new RuntimeException(s"data generation failed ($rc): see gen.log")
  }

  private def session(): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Set up: session start and data generation `setups` times (each
    * recorded; all but the last session are stopped), then `prepare` once
    * on the kept session, e.g. the starting warehouse; it returns the wall
    * time of the program calls it made. */
  private def setUp(prepare: (SparkSession, File) => Double): (SparkSession, File) = {
    var kept: (SparkSession, File) = null
    for (r <- 1 to setups) {
      val dir = new File(work, s"setup$r")
      val (spark, sessionS) = timed(session())
      val (_, genS) = timed(generate(dir))
      rec.write("setup", "rep" -> r, "session_s" -> sessionS, "gen_s" -> genS,
        "total_s" -> (sessionS + genS))
      if (r < setups) { spark.stop(); delete(dir) } else kept = (spark, dir)
    }
    rec.write("prepare", "wall_s" -> prepare(kept._1, kept._2))
    kept
  }

  def run(): Unit = workload match {
    case "backfill_deep" => new PipelineWorkload(deep = true).run()
    case "daily_wide" => new PipelineWorkload(deep = false).run()
    case "gates" => gates()
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def endRecord(): Unit =
    rec.write("end", "live_heap_mb" -> LiveHeap.mb)

  /** `body`, with its jobs attributed to `layer` when tracing. */
  private def within[T](tracer: Option[Tracer], layer: String)(body: => T): T =
    tracer.fold(body)(_.in(layer)(body))

  // ---------------------------------------------------------------- pipeline

  private final class PipelineWorkload(deep: Boolean) {
    private val names = TableNames()
    private val base = Timestamp.valueOf("2030-01-01 00:00:00").getTime
    private var runIndex = 0
    private def nextNow(): Timestamp = { runIndex += 1; new Timestamp(base + runIndex * 1000L) }

    /** One pipeline run, plain (`runConfigured`) or traced (the four stage
      * calls in runConfigured's order and arguments, then its counts). */
    private def pipeline(spark: SparkSession, wh: File, csvDir: String, today: Date,
                         what: String, tracer: Option[Tracer]): Map[String, Any] = {
      val now = nextNow()
      val config = PipelineConfig(rawInputDir = csvDir)
      val before = FileSet.of(wh)
      val pvBefore = archives(wh)
      val layers = mutable.LinkedHashMap.empty[String, Any]
      val (result, wall) = timed(tracer match {
        case None => PipelineRunner.runConfigured(spark, wh.getPath, config, now, today)
        case Some(t) => stages(spark, wh, config, now, today, t, layers)
      })
      val after = FileSet.of(wh)
      val (files, bytes) = after.writtenSince(before)
      val touched = archives(wh).diff(pvBefore).toSeq.map { pv =>
        val f = new File(pv, "_touched")
        if (f.exists()) Files.readAllLines(f.toPath).asScala.count(_.nonEmpty) else 0
      }.sum
      // untimed output checks: reject reasons and this run's DQ rows
      val catalog = new Catalog(spark, wh.getPath, names)
      val byReason = catalog.read(names.silverRejected).groupBy("reject_reason").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val dqRun = catalog.read(names.dq).filter(col("run_ts") === now)
      val dqByCheck = dqRun.filter(col("check_status") === "FAIL").groupBy("check_name").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val dqRunRows = dqRun.count()
      Map("what" -> what, "wall_s" -> wall,
        "bronze" -> result.bronzeRows, "silver" -> result.silverRows,
        "rejected" -> result.rejectedRows, "gold" -> result.goldRows, "dq" -> result.dqRows,
        "rejected_by_reason" -> byReason, "dq_fail_by_check" -> dqByCheck,
        "dq_run_rows" -> dqRunRows,
        "files_written" -> files, "bytes_written" -> bytes, "upsert_partitions" -> touched,
        "layers" -> layers.toMap)
    }

    private def archives(wh: File): Set[File] =
      Option(wh.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith(names.bronze + ".pv")).toSet

    private def stages(spark: SparkSession, wh: File, config: PipelineConfig, now: Timestamp,
                       today: Date, t: Tracer,
                       layers: mutable.Map[String, Any]): PipelineRunner.RunResult = {
      val n = config.tables
      val catalog = new Catalog(spark, wh.getPath, n)
      def layer[T](name: String)(body: => T): T = {
        val before = FileSet.of(wh)
        val by0 = t.snapshot()
        val r = t.in(name)(body)
        val d = Tracer.delta(t.snapshot(), by0, name)
        layers(name) = Map("wall_s" -> d.wallNs / 1e9, "jobs" -> d.jobs, "cpu_s" -> d.cpuNs / 1e9,
          "input_bytes" -> d.inputBytes, "shuffle_write_bytes" -> d.shuffleWrite,
          "spill_bytes" -> d.spill, "files_written" -> FileSet.of(wh).writtenSince(before)._1)
        r
      }
      val bronze = layer("bronze")(BronzeIngest.run(spark, catalog, config.rawInputDir,
        config.source, now, n, config.symbols, config.startDate, config.endDate))
      val (silver, rejected) = layer("silver")(SilverTransform.run(spark, catalog, n))
      val gold = layer("gold")(GoldFeatures.run(spark, catalog, now, n))
      val dq = layer("dq")(QualityChecks.run(spark, catalog, now, today, n, config.thresholds))
      layer("counts")(PipelineRunner.RunResult(bronze.count(), silver.count(),
        rejected.count(), gold.count(), dq.count()))
    }

    /** Q1-Q10 over the warehouse; each timing covers Catalog.read, the
      * query's own eager steps and collecting its result. */
    private def analyst(spark: SparkSession, wh: File, on: Date,
                        tracer: Option[Tracer]): Seq[Map[String, Any]] = {
      val catalog = new Catalog(spark, wh.getPath, names)
      def gold = catalog.read(names.gold)
      val qs: Seq[(String, () => DataFrame)] = Seq(
        "latest_snapshot" -> (() => AnalystQueries.latestSnapshot(gold)),
        "top_moves" -> (() => AnalystQueries.topMoves(gold)),
        "volatility_scan" -> (() => AnalystQueries.volatilityScan(gold)),
        "liquidity_screen" -> (() => AnalystQueries.liquidityScreen(gold)),
        "recent_window" -> (() => AnalystQueries.recentWindow(gold, "EQ0000")),
        "large_move_alert" -> (() => AnalystQueries.largeMoveAlert(gold)),
        "volatility_expansion" -> (() => AnalystQueries.volatilityExpansion(gold)),
        "cross_asset_on" -> (() => AnalystQueries.crossAssetOn(gold, on)),
        "completeness" -> (() => AnalystQueries.completeness(gold)),
        "dq_triage" -> (() => AnalystQueries.dqTriage(catalog.read(names.dq))))
      qs.map { case (name, q) =>
        val (rows, wall) = within(tracer, "analyst")(timed(q().collect()))
        Map("name" -> name, "wall_s" -> wall) ++ summarize(name, rows)
      }
    }

    /** What run.py checks per query: row count, plus dates for the
      * latest-date queries, total days for completeness and predicate
      * violations for volatility_expansion. */
    private def summarize(name: String, rows: Array[Row]): Map[String, Any] = {
      val base = Map[String, Any]("rows" -> rows.length)
      name match {
        case "top_moves" | "volatility_scan" | "liquidity_screen" | "large_move_alert" |
             "cross_asset_on" =>
          base + ("dates" -> rows.map(_.getAs[Date]("date").toString).distinct.sorted.toSeq)
        case "completeness" => base + ("days" -> rows.map(_.getAs[Long]("n_days")).sum)
        case "volatility_expansion" =>
          base + ("violations" -> rows.count(r =>
            !(r.getAs[Double]("vol_20d") > 1.5 * r.getAs[Double]("avg_vol_60d"))))
        case _ => base
      }
    }

    private def warehouseStats(wh: File): Map[String, Any] = {
      val top = Option(wh.listFiles()).getOrElse(Array.empty).toSeq
      val isArchive = (f: File) => f.getName.matches(".*\\.(pv|v)\\d+$")
      val live = top.filterNot(isArchive)
      val partDirs = live.flatMap(t => Option(t.listFiles()).getOrElse(Array.empty))
        .filter(d => d.isDirectory && d.getName.contains("="))
      val dataFiles = partDirs.map(d => Option(d.listFiles()).getOrElse(Array.empty)
        .count(f => f.getName.endsWith(".parquet"))).sum
      Map("warehouse_bytes" -> FileSet.of(wh).bytes,
        "archive_bytes" -> top.filter(isArchive).map(f => FileSet.of(f).bytes).sum,
        "partition_dirs" -> partDirs.size, "data_files" -> dataFiles)
    }

    private def readAll(spark: SparkSession, wh: File): Double = {
      val catalog = new Catalog(spark, wh.getPath, names)
      Seq(names.bronze, names.silver, names.silverRejected, names.gold, names.dq)
        .map(t => timed(catalog.read(t).count())._2).sum
    }

    def run(): Unit = {
      val (spark, dir) = setUp { (spark, dir) =>
        if (deep) 0.0
        else {
          val h = plan(dir).find(_(0) == "history").get
          val run = pipeline(spark, new File(dir, "wh"), h(1), Date.valueOf(h(2)), "history", None)
          rec.write("history", "run" -> run)
          run("wall_s").asInstanceOf[Double]
        }
      }
      val lines = plan(dir)
      val wh = new File(dir, "wh")
      var k = 0

      def wallOf(m: Map[String, Any]): Double = m("wall_s").asInstanceOf[Double]

      /** One operation; returns its record fields. Its wall time is the sum
        * of the program calls it made, without the harness's checks. */
      def op(tracer: Option[Tracer]): Map[String, Any] = {
        k += 1
        if (deep) {
          val l = lines.find(_(0) == "load").get
          val target = new File(dir, s"wh$k")
          val r = pipeline(spark, target, l(1), Date.valueOf(l(2)), "load", tracer)
          val stats = warehouseStats(target)
          val readS = if (tracer.isDefined) readAll(spark, target) else 0.0
          if (new File(dir, s"wh${k - 1}").exists()) delete(new File(dir, s"wh${k - 1}"))
          Map("k" -> k, "wall_s" -> wallOf(r), "runs" -> Seq(r),
            "csv_bytes" -> l(3).toLong, "read_s" -> readS) ++ stats
        } else {
          val d = lines.find(l => l(0) == "day" && l(1).toInt == k)
            .getOrElse(throw new IllegalStateException(s"gen.py planned fewer than $k days"))
          val (csv, date, today, bytes) = (d(2), Date.valueOf(d(3)), Date.valueOf(d(4)), d(5).toLong)
          val append = pipeline(spark, wh, csv, today, "append", tracer)
          val runs = Seq(append, pipeline(spark, wh, csv, today, "rerun", tracer))
          val a0 = tracer.map(_.snapshot())
          val qs = analyst(spark, wh, date, tracer)
          val wall = (runs ++ qs).map(wallOf).sum
          val aq = tracer.map(t => Tracer.delta(t.snapshot(), a0.get, "analyst"))
            .map(d => Map("jobs" -> d.jobs, "input_bytes" -> d.inputBytes))
          val readS = if (tracer.isDefined) readAll(spark, wh) else 0.0
          Map("k" -> k, "wall_s" -> wall, "runs" -> runs,
            "queries" -> qs, "csv_bytes" -> bytes, "read_s" -> readS,
            "analyst" -> aq) ++ warehouseStats(wh)
        }
      }

      // Warm-up: one load (backfill_deep), or Q1-Q10 over the starting
      // warehouse (daily_wide), whose load in set-up already ran the
      // pipeline once; the first timed append is the first merge.
      val warm = if (deep) op(None) else {
        val h = lines.find(_(0) == "history").get
        val qs = analyst(spark, wh, Date.valueOf(h(4)), None)
        Map("k" -> 0, "wall_s" -> qs.map(wallOf).sum, "queries" -> qs)
      }
      rec.write("warmup", "wall_s" -> wallOf(warm), "op" -> warm)
      measure(spark, tracer => rec.write("op", ("traced" -> tracer.isDefined) +: op(tracer).toSeq: _*))
      endRecord()
      spark.stop()
    }
  }

  /** Closed loop for `seconds`: untraced, or with --trace 1 an untraced
    * first half and a traced second half (their difference is the tracing
    * overhead). At least one operation runs in each half. */
  private def measure(spark: SparkSession, op: Option[Tracer] => Unit): Unit = {
    def loop(budget: Double, tracer: Option[Tracer]): Unit = {
      val t0 = System.nanoTime()
      do { op(tracer); LiveHeap.sample(spark) } while (secs(t0) < budget)
    }
    if (!trace) loop(seconds, None)
    else {
      loop(seconds / 2, None)
      val t = new Tracer(spark)
      val by0 = t.snapshot()
      val gc0 = Tracer.gcMs() - LiveHeap.forcedGcMs
      loop(seconds / 2, Some(t))
      val d = Tracer.total(t.snapshot()).minus(Tracer.total(by0))
      rec.write("spark", "wall_s" -> d.wallNs / 1e9, "cores" -> cores, "jobs" -> d.jobs,
        "tasks" -> d.tasks, "executor_run_s" -> d.runMs / 1e3,
        "executor_cpu_s" -> d.cpuNs / 1e9, "shuffle_read_bytes" -> d.shuffleRead,
        "shuffle_write_bytes" -> d.shuffleWrite, "spill_bytes" -> d.spill,
        "input_bytes" -> d.inputBytes, "gc_s" -> (Tracer.gcMs() - LiveHeap.forcedGcMs - gc0) / 1e3,
        "analysis_s" -> d.analysisMs / 1e3, "optimization_s" -> d.optimizationMs / 1e3,
        "planning_s" -> d.planningMs / 1e3)
      t.close()
    }
  }

  // ------------------------------------------------------------------- gates

  private def gates(): Unit = {
    val list = opt("gates").split(",").toSeq
    val order = new scala.util.Random(seed).shuffle(list)
    val (spark, dir) = setUp((_, _) => 0.0)
    val tables = plan(dir).find(_(0) == "tables").get(1)
    val sc = spark.sparkContext
    def release(): Unit = {
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }
    // warm-up: every gate once, results kept for the DuckDB oracle check
    val results = new File(work, "results")
    val warm = order.map { name =>
      val (_, wall) = timed(SparkEntry.queries(name)(spark, tables).coalesce(1).write
        .mode("overwrite").parquet(new File(results, name).getPath))
      release()
      name -> wall
    }
    rec.write("warmup", "wall_s" -> warm.map(_._2).sum, "gates" -> warm.toMap,
      "results" -> results.getPath, "tables" -> tables)
    val oracles = SparkEntry.oracleSql.filter { case (n, _) => list.contains(n) }
    Files.writeString(new File(work, "oracle_sql.json").toPath, Records.json(oracles))
    var pass = 0
    measure(spark, { tracer =>
      pass += 1
      val per = order.map { name =>
        val by0 = tracer.map(_.snapshot())
        val (df, build) = within(tracer, "gates")(timed(SparkEntry.queries(name)(spark, tables)))
        val (_, exec) = within(tracer, "gates")(timed(
          df.write.format("noop").mode("overwrite").save()))
        release()
        LiveHeap.sample(spark)
        val jobs = tracer.map(t => Tracer.delta(t.snapshot(), by0.get, "gates").jobs).getOrElse(0L)
        Map("name" -> name, "wall_s" -> (build + exec), "build_s" -> build,
          "exec_s" -> exec, "jobs" -> jobs)
      }
      rec.write("op", "traced" -> tracer.isDefined, "k" -> pass,
        "wall_s" -> per.map(_("wall_s").asInstanceOf[Double]).sum, "gates" -> per)
    })
    endRecord()
    spark.stop()
  }
}
