package graft.tools

import graft.{GraftSession, SparkEntry}

/** Times named queries (noop sink) at SPARK_GRAFT_SF_DIR.
  *
  * Round-15 measurement upgrade: single readings on this box swing ±50%
  * (OPTIMIZATION_r14.md §Measurement environment), so keep/revert calls
  * must rest on medians, not pairs. Each named query now runs
  * 1 untimed warm-up + SPARK_GRAFT_REPS timed repetitions (default 5)
  * and prints every reading plus a MEDIAN line with min/max spread and
  * the per-reading Spark job count (the contention-immune arbitration
  * signal: an inflated wall at an unchanged job count is box noise, not
  * a plan change) and codegen compile count (non-zero on a timed rep
  * means it recompiled instead of reusing the warm-up's classes), and
  * spawn count (operating-system processes started, [[Spawns]]).
  */
object Time {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    val sc = spark.sparkContext
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(5)

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
    def releaseResiduals(): Unit = {
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }
    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def once(name: String): (Double, Long, Long, Long) = {
      val j0 = drainedJobs(); val c0 = compiles()
      val (dt, spawns) = Spawns.count {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val j1 = drainedJobs(); val c1 = compiles()
      releaseResiduals()
      System.gc()
      (dt, j1 - j0, c1 - c0, spawns)
    }

    args.foreach { name =>
      once(name) // warm-up: codegen/JIT/footer caches, uncounted
      val rs = (1 to reps).map { i =>
        val r @ (dt, j, c, n) = once(name)
        println(f"TIMER $name rep=$i ${dt}%.2f s jobs=$j compiles=$c spawns=$n")
        r
      }
      val sorted = rs.map(_._1).sorted
      val med =
        if (reps % 2 == 1) sorted(reps / 2)
        else (sorted(reps / 2 - 1) + sorted(reps / 2)) / 2.0
      println(f"MEDIAN $name ${med}%.2f s " +
        f"min=${sorted.head}%.2f max=${sorted.last}%.2f " +
        s"jobs=${rs.map(_._2).distinct.mkString("/")} " +
        s"compiles=${rs.map(_._3).distinct.mkString("/")} " +
        s"spawns=${rs.map(_._4).distinct.mkString("/")} reps=$reps")
    }
    spark.stop()
  }
}
