package graft

/** Benchmark main: runs every declared query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric","value","unit","queries","sf"}.
  *
  * Each query is forced through a "noop" write, not count(): count() lets
  * Catalyst prune the final projections (a scalar-function query would
  * benchmark as a row count), while the noop sink evaluates every output
  * column and discards it.
  *
  * Every query runs TWICE: an untimed warm-up execution immediately
  * followed by the timed one. The first execution of a query pays one-off
  * JVM costs — janino codegen compilation, JIT of the generated classes,
  * parquet footer caches — that a long-lived engine pays once per query
  * shape, not per run; timing run two measures the engine, not the JIT
  * (measured ~2x inflation on decimal-heavy plans otherwise). The timed
  * run reuses the warm-up's generated classes only while they fit the
  * session's generated-code cache (GraftSession sizes it at 1000; at
  * Spark's default of 100 a gate whose warm-up generated more than 100
  * classes recompiled on the timed run too). Nothing else is cached
  * between the two executions Spark-side: each call rebuilds the
  * DataFrame, so scans, shuffles, and any in-query localCheckpoint
  * materializations are fully re-executed and still inside the timing.
  * The cold pass total is reported alongside as "cold_total_sec".
  *
  * SELF-ARBITRATING TELEMETRY (round-12): twice running, the per-round
  * artifact read the iterated graph gates at 3-4x their idle wall and the
  * contention-vs-regression arbitration had to happen after the fact from
  * idle re-runs. The bench now records, PER QUERY, enough to arbitrate
  * from the artifact alone:
  *   - jobs:    Spark jobs launched by the timed execution (counting
  *     listener, bus-drained at both edges via BusDrain so async events
  *     can't bleed across queries). An inflated wall with UNCHANGED job
  *     count is contention/GC, not a plan change.
  *   - gc_ms:   collector-bean time delta across the timed execution
  *     (local[*] = one JVM, so this covers "executor" GC too).
  *   - heap_mb: live heap after the post-query cleanup + forced GC — the
  *     standing-footprint ramp that marks block-manager pressure.
  *   - rdds:    persistent RDDs left registered AFTER the query (residual
  *     localCheckpoint blocks the query did not release itself).
  *   - compiles: classes janino compiled during the timed execution
  *     (CodegenMetrics; JVM-wide, so executor-side compiles count too).
  *     Non-zero means the timed run recompiled rather than reusing the
  *     warm-up's classes; the warm-ups' total is "cold_compiles".
  * All five land in bench_detail.json under "telemetry"; the printed line
  * carries the first four for the slowest queries (see "tele" below).
  *
  * DETERMINISTIC BLOCK RELEASE: after each execution the harness
  * unpersists every leftover persistent RDD and clears the cache. The
  * graph loops already free SUPERSEDED rounds in-loop; their FINAL
  * round's blocks (and any gate's residual cache) previously lingered
  * until the ContextCleaner noticed a GC — across 362 queries x 2
  * executions that standing garbage is exactly the storage-pool pressure
  * implicated in the q217 driver-bench pathology. Safe by construction:
  * queries run strictly sequentially and every execution rebuilds its
  * DataFrame from scratch, so no cross-execution state is ever live.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Scan-split sizing stays at Spark's defaults (128m max partition
    // bytes, 4 MB open cost): an A/B at sf0.1 measured 1m/256k against
    // them WALL-NEUTRAL on the scan-heaviest gates (q89/q179/q238/q242/
    // q246 within ±3%) — the open-cost floor already splits the 11 MB
    // lineitem into ~3 tasks and the per-stage cost is elsewhere.
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    val jobCount = new java.util.concurrent.atomic.AtomicLong(0)
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCount.incrementAndGet(); ()
      }
    })
    def drainedJobs(): Long = {
      org.apache.spark.graft.BusDrain.drain(sc); jobCount.get()
    }
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    // release residual blocks a finished execution left behind (final
    // localCheckpoint rounds, stray .cache()s) without waiting for the
    // ContextCleaner's GC-driven sweep
    def releaseResiduals(): Unit = {
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }
    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def usedHeapMb(): Long = {
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
    }

    def force(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // Optional comma-separated restriction for local iteration; the
    // driver never sets it, so the per-round recording covers everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // name -> (sec, jobs, gc_ms, heap_mb, rdds, compiles) — order documented above
    val tele = scala.collection.mutable.LinkedHashMap
      .empty[String, (Double, Long, Long, Long, Int, Long)]
    var coldTotal = 0.0
    var coldCompiles = 0L
    val results = names.flatMap { name =>
      // warm-up execution: pays codegen/JIT/footer-cache one-offs
      val cc0 = compiles()
      val c0 = System.nanoTime()
      try force(name) catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
      coldTotal += (System.nanoTime() - c0) / 1e9
      coldCompiles += compiles() - cc0
      releaseResiduals()
      // GC BETWEEN executions (outside the timed section): the
      // ContextCleaner only reclaims finished queries' broadcasts/shuffles
      // after a GC, and without one later queries measure the whole run's
      // memory pressure.
      System.gc()
      val jobs0 = drainedJobs(); val gc0 = gcMs(); val cc1 = compiles()
      val t0 = System.nanoTime()
      try force(name) catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val jobs1 = drainedJobs(); val gc1 = gcMs(); val cc2 = compiles()
      val residualRdds = sc.getPersistentRDDs.size
      releaseResiduals()
      System.gc()
      // a crashed query has no meaningful duration: failure is reported in
      // "errors" (and the exit code), never encoded into the timing map
      if (errors.contains(name)) None
      else {
        tele(name) = (dt, jobs1 - jobs0, gc1 - gc0, usedHeapMb(), residualRdds, cc2 - cc1)
        Some(name -> dt)
      }
    }
    // The result line must stay SHORT: the harness that captures this
    // output keeps only the last ~2000 characters (and sbt appends a
    // "[success] Total time ..." trailer AFTER our line that also counts
    // against the window), so an unbounded per-query map truncates the
    // line's head and makes it unparseable — this happened in rounds 1-4.
    // The full 3-dp map is therefore ALWAYS written to bench_detail.json
    // next to the repo docs, and the printed line degrades until it
    // provably fits: 2 dp -> 1 dp -> keep only the slowest entries (the
    // ones a perf reader actually needs) plus an explicit elision count.
    // compact keys are the qNNN prefix; if two gates ever share one, the
    // whole map falls back to full names rather than silently shadowing a
    // duplicate JSON key in a consumer
    val shortKeysUnique =
      results.map(_._1.takeWhile(_ != '_')).distinct.size == results.size
    def shortKey(k: String): String =
      if (shortKeysUnique) k.takeWhile(_ != '_') else k
    def entry(k: String, v: BigDecimal) =
      "\"" + shortKey(k) + "\":" + v
    def qsAt(dp: Int, rs: Seq[(String, Double)], extra: String = "") =
      rs.map { case (k, v) =>
        entry(k, BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP))
      }.mkString("{", ",", if (extra.isEmpty) "}" else s",$extra}")
    val budget = 1100 // chars for the map; tele + envelope + sbt trailer need the rest
    val qs = Seq(qsAt(2, results), qsAt(1, results))
      .find(_.length <= budget)
      .getOrElse {
        // keep the slowest-first prefix that fits; elided queries are all
        // sub-noise at 1 dp anyway and remain in bench_detail.json
        val bySlowest = results.sortBy(-_._2)
        val keep = (1 to bySlowest.size).takeWhile { n =>
          qsAt(1, bySlowest.take(n), s"""\"elided\":${bySlowest.size - n}""").length <= budget
        }.lastOption.getOrElse(0)
        qsAt(1, bySlowest.take(keep), s"""\"elided\":${bySlowest.size - keep}""")
      }
    // compact telemetry for the SLOWEST queries (the ones a perf reader
    // must arbitrate): "q217":[sec,jobs,gc_ms,heap_mb,rdds]. The full map
    // for every query is in bench_detail.json's "telemetry".
    def teleRow(k: String): String = {
      val (s0, j, g, h, r, _) = tele(k)
      "\"" + shortKey(k) + "\":[" +
        BigDecimal(s0).setScale(1, BigDecimal.RoundingMode.HALF_UP) +
        s",$j,$g,$h,$r]"
    }
    val teleBudget = 420
    val teleSlowest = results.sortBy(-_._2).map(_._1)
    val teleKeep = (1 to teleSlowest.size).takeWhile { n =>
      teleSlowest.take(n).map(teleRow).mkString("{", ",", "}").length <= teleBudget
    }.lastOption.getOrElse(0)
    val teleJson =
      if (teleKeep == 0) ""
      else ",\"tele\":" + teleSlowest.take(teleKeep).map(teleRow)
        .mkString("{", ",", "}")
    val errJson =
      if (errors.isEmpty) ""
      else ",\"errors\":" + errors
        .map { case (k, v) => s"${JsonEscape(k)}:${JsonEscape(v)}" }
        .mkString("{", ",", "}")
    def sec(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val total = sec(results.map(_._2).sum)
    val gcTotalMs = tele.values.map(_._3).sum
    // full-fidelity record for humans/judges: every query, 3 dp, full names
    val detail = results.map { case (k, v) => s"${JsonEscape(k)}:${sec(v)}" }
      .mkString("{", ",", "}")
    val teleDetail = tele.map { case (k, (_, j, g, h, r, c)) =>
      s"${JsonEscape(k)}:{" + s""""jobs":$j,"gc_ms":$g,"heap_mb":$h,"rdds":$r,"compiles":$c}"""
    }.mkString("{", ",", "}")
    // never clobber the full recording from a SPARK_GRAFT_ONLY-restricted run
    if (only.isEmpty)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_detail.json"),
        s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","cold_total_sec":${sec(coldTotal)},"cold_compiles":$coldCompiles,"gc_total_ms":$gcTotalMs,"queries":$detail,"telemetry":$teleDetail$errJson}""" + "\n")
      catch { case _: Throwable => () } // a read-only cwd must not fail the bench
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs$teleJson$errJson,"sf":"$sfDir","cold_total_sec":${sec(coldTotal)},"gc_total_ms":$gcTotalMs}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
